package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_pos_tokenize(text)` — a custom Catalyst [[Generator]] (the UDTF
  * extension tier SURVEY §2-J names): one input document row fans out to one
  * `(pos, word)` row per whitespace token, the fused spelling of
  * `posexplode(split(text, ' '))` (udtf_generator's shape, which stays as
  * the built-in cross-check twin).
  *
  * Why a Generator and not explode-over-an-array: the extension point. A
  * custom Generator is how semantics that DON'T reduce to "build an array,
  * then explode" enter the plan — stateful tokenizers, overlapping-window
  * emitters, sketch expanders — while still planning as a native `Generate`
  * node (outer/required-child-output machinery, generator pruning) rather
  * than an RDD flatMap that Catalyst can't see through. This implementation
  * keeps deliberately-simple token semantics so the posexplode twin and the
  * DuckDB oracle can certify the plumbing exactly.
  *
  * Split semantics are pinned to Spark's `split(text, " ")` (Java regex
  * split, limit -1): consecutive spaces yield empty tokens and trailing
  * empties are KEPT — identical on the twin and the oracle
  * (`string_split`), so the three agree row-for-row.
  *
  * Scale: evaluated per-row inside `GenerateExec` — no shuffle, no state;
  * output partitioning inherits the child's. `CodegenFallback` is the
  * honest tier here (GenerateExec's codegen fast path is reserved for the
  * built-in collection generators); the per-row cost is one regex split,
  * dwarfed by the scan it fuses with.
  */
case class PosTokenize(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_pos_tokenize expects a string argument, got ${dt.simpleString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("word", StringType, nullable = true)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      // limit -1 == Spark's split(): trailing empty tokens are kept
      val words = v.asInstanceOf[UTF8String].toString.split(" ", -1)
      new Iterator[InternalRow] {
        private var i = 0
        override def hasNext: Boolean = i < words.length
        override def next(): InternalRow = {
          val r = InternalRow(i, UTF8String.fromString(words(i)))
          i += 1
          r
        }
      }
    }
  }

  override def prettyName: String = "graft_pos_tokenize"

  override protected def withNewChildInternal(newChild: Expression): PosTokenize =
    copy(child = newChild)
}
