package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity between two float vectors as a native Catalyst
  * expression (SURVEY.md §2-J `expr_custom_cosine`, §7.3).
  *
  * Why a custom Expression and not a UDF: the kNN queries in §2-K evaluate
  * this in the inner loop of a (capped) cross join — at 100 TB that loop runs
  * trillions of times. A Scala UDF would box every row into Scala land and
  * break whole-stage codegen; this expression emits a tight primitive float
  * loop directly into the generated Java, staying inside the fused
  * WholeStageCodegen stage (verify with .explain: no BatchEvalPython / no
  * codegen fallback markers).
  *
  * Numerics: floats are widened to double BEFORE multiply and accumulated
  * left-to-right, which makes the interpreted path, the codegen path, and
  * the `aggregate(zip_with(...))` built-in twin (UdfOps cross-check)
  * bit-identical.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects two array<float>/array<double> args, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  private def toDoubles(v: Any, dt: DataType): Array[Double] = dt match {
    case ArrayType(FloatType, _) =>
      val f = v.asInstanceOf[ArrayData].toFloatArray()
      val out = new Array[Double](f.length)
      var i = 0
      while (i < f.length) { out(i) = f(i).toDouble; i += 1 }
      out
    case _ => v.asInstanceOf[ArrayData].toDoubleArray()
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.computeD(
      toDoubles(a, left.dataType), toDoubles(b, right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xa = ctx.freshName("xa"); val ya = ctx.freshName("ya")
      val n = ctx.freshName("n");   val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      def decl(nm: String, src: String, dt: DataType) = dt match {
        case ArrayType(FloatType, _) => s"float[] $nm = $src.toFloatArray();"
        case _                       => s"double[] $nm = $src.toDoubleArray();"
      }
      // per-element (double) casts are no-ops for double[] sources, so both
      // element types accumulate in the identical left-to-right order
      s"""
         |${decl(xa, a, left.dataType)}
         |${decl(ya, b, right.dataType)}
         |int $n = java.lang.Math.min($xa.length, $ya.length);
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $xa[$i]) * ((double) $ya[$i]);
         |  $nx  += ((double) $xa[$i]) * ((double) $xa[$i]);
         |  $ny  += ((double) $ya[$i]) * ((double) $ya[$i]);
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Interpreted twin of the generated loop — identical operation order. */
  def compute(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      dot += x(i).toDouble * y(i).toDouble
      nx += x(i).toDouble * x(i).toDouble
      ny += y(i).toDouble * y(i).toDouble
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  /** Double-array twin, same accumulation order. */
  def computeD(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      dot += x(i) * y(i)
      nx += x(i) * x(i)
      ny += y(i) * y(i)
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }
}
