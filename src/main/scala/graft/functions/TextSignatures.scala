package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** `graft_minhash(sh)` — the k=64 MinHash signature of one shingle array
  * as a native Catalyst expression: slot i holds
  * `min over s of pmod(a_i * pmod(xxhash64(s), P) + b_i, P)`, with
  * Spark's XXH64 (seed 42) over each shingle's UTF-8 bytes, so the
  * signature equals the explode + 64-column `min` aggregate it replaces,
  * bit for bit. A NULL element hashes to 42, as `xxhash64(NULL)` does;
  * a NULL or empty array yields NULL (the explode form emits no row).
  *
  * Why an expression and not the aggregate: the aggregate explodes every
  * shingle into its own row and carries 64 min buffers through a hash
  * aggregate; this is one primitive loop per document, emitted into the
  * generated code of the stage it sits in.
  */
case class MinHashSignature(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(a: Any): Any =
    TextSignatures.minhash(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = ${TextSignatures.javaName}.minhash($a);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** `graft_simhash(harr)` — the 60-bit SimHash of one token-hash array:
  * bit b is set when more than half the tokens have bit b set. Equals the
  * nested `aggregate`/`transform` vote it replaces, including its NULL
  * behaviour: a NULL array, or any NULL element, gives 0. One pass over
  * the tokens with 60 counters instead of 60 passes of a lambda.
  */
case class SimHashVote(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<bigint>, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def eval(input: InternalRow): Any =
    TextSignatures.simhash(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${TextSignatures.javaName}.simhash(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): SimHashVote =
    copy(child = c)
}

/** The kernels' loops and the MinHash permutation parameters — the one
  * definition the engine's banding and these expressions share. */
object TextSignatures {
  private[graft] val javaName: String = getClass.getName.stripSuffix("$")

  /** MinHash: k=64 universal hashes h_i(x) = (a_i*x + b_i) mod P over a
    * 31-bit prime, seeded so every run and executor agrees. */
  val MinhashK = 64
  val P = 2147483647L // 2^31 - 1
  val (hashA, hashB) = {
    val rnd = new scala.util.Random(42L)
    (Array.fill(MinhashK)(1L + rnd.nextInt((P - 1).toInt)),
     Array.fill(MinhashK)(rnd.nextInt(P.toInt).toLong))
  }
  private val XxSeed = 42L

  /** The k minima over `sh`, or null for an empty array. */
  def minhash(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val a = hashA; val b = hashB
    val mins = Array.fill(MinhashK)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = if (sh.isNullAt(j)) XxSeed else XXH64.hashUTF8String(sh.getUTF8String(j), XxSeed)
      val x = java.lang.Math.floorMod(h, P)
      var i = 0
      while (i < MinhashK) {
        // x < 2^31 and a_i, b_i < 2^31: the sum stays below 2^63
        val v = (x * a(i) + b(i)) % P
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** 60-bit majority vote over `harr`; 0 for a NULL array or element. */
  def simhash(harr: ArrayData): Long = {
    if (harr == null) return 0L
    val n = harr.numElements()
    val ones = new Array[Int](60)
    var j = 0
    while (j < n) {
      if (harr.isNullAt(j)) return 0L
      val x = harr.getLong(j)
      var b = 0
      while (b < 60) { ones(b) += ((x >>> b) & 1L).toInt; b += 1 }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (2L * ones(b) > n) sig |= 1L << b
      b += 1
    }
    sig
  }
}
