package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, BinaryNode => LogicalBinaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.DataType

/** Whole-operator extension tier (SURVEY §7.3c): a native backward as-of
  * join as a custom `LogicalPlan` + `SparkStrategy` + physical `SparkPlan`
  * — the operator family Spark's DataFrame API genuinely lacks (the
  * composed alternative is `join_asof`'s union-tag + window plan; pandas
  * API-on-Spark ships `merge_asof` but there is no Scala/SQL primitive).
  *
  * Semantics (backward, inclusive): for every left row, the single right
  * row with equal by-keys and the greatest `rightTs <= leftTs`; left rows
  * with no such match are dropped (inner, the default) or emitted with
  * null right columns (`outer = true` — DuckDB's `ASOF LEFT JOIN`, the
  * feature-store enrichment shape where unmatched rows must survive).
  * `forward = true` flips the direction: the single right row with the
  * SMALLEST `rightTs >= leftTs` (DuckDB `ASOF ... ON l.ts <= r.ts` — the
  * event-to-next-outcome join), matched as the un-consumed right head so
  * the forward merge buffers and copies nothing. Equal by-key null handling
  * follows sort-order equality (nulls group together, like groupBy — note
  * the difference from SQL join equality); callers with nullable keys
  * should filter first. NULL timestamps follow SQL comparison semantics
  * on BOTH sides — a NULL right ts is never a match candidate and a NULL
  * left ts matches nothing (exactly what the composed twin's isNotNull
  * filter and DuckDB's `p.ts >= s.ts` predicate do). Ties on `rightTs` keep the last row in (key, ts)
  * sort order — output-stable whenever the projected right columns are,
  * which is how DuckDB's `ASOF JOIN` (the oracle twin) behaves too.
  *
  * Scale shape: ONE hash shuffle per side on the by-keys (exactly a
  * sort-merge join's movement — `ClusteredDistribution` lets
  * EnsureRequirements reuse any compatible existing partitioning, e.g.
  * bucketed tables), then a single streaming two-pointer merge per
  * partition holding ONE candidate row — no window buffering the whole
  * key group, no state beyond 2 rows, no skew amplification beyond what
  * the key distribution itself carries. 100 TB cost = the two shuffles.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    outer: Boolean = false,
    forward: Boolean = false) extends LogicalBinaryNode {

  require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
    s"as-of join needs matching by-key lists, got $leftKeys vs $rightKeys")
  // The physical comparators are built from the LEFT types and applied to
  // RIGHT-side rows, so mismatched widths would silently misread fields
  // (an int read as a long compares -1 as 4294967295). A built-in join
  // gets implicit casts from the analyzer; a custom node must insist the
  // caller casts explicitly. Nullability may differ; types may not.
  leftKeys.zip(rightKeys).foreach { case (lk, rk) =>
    require(DataType.equalsIgnoreNullability(lk.dataType, rk.dataType),
      s"as-of join by-key type mismatch: ${lk.dataType.simpleString} vs " +
        s"${rk.dataType.simpleString} (cast one side explicitly)")
  }
  require(DataType.equalsIgnoreNullability(leftTs.dataType, rightTs.dataType),
    s"as-of join ts type mismatch: ${leftTs.dataType.simpleString} vs " +
      s"${rightTs.dataType.simpleString} (cast one side explicitly)")

  override def output: Seq[Attribute] =
    left.output ++ (if (outer) right.output.map(_.withNullability(true))
                    else right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level builder: the path `Graft.asofJoin` (and the
  * `join_asof_native` contract key) goes through. */
object AsOfJoin {
  /** Build the as-of join frame from column NAMES, resolved with the
    * session's resolver (caseSensitive-aware). The right side is wrapped
    * in an all-alias Project (fresh exprIds): the analyzer dedups
    * conflicting attribute ids for built-in Join nodes only, so a custom
    * binary node must guarantee disjoint ids itself — self-joins of one
    * source frame would otherwise reuse the same relation attributes
    * verbatim on both sides. */
  def frame(left: DataFrame, right: DataFrame,
            leftOn: Seq[String], rightOn: Seq[String],
            leftTsCol: String, rightTsCol: String,
            outer: Boolean = false, forward: Boolean = false): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    require(leftOn.length == rightOn.length,
      s"asofJoin: leftOn (${leftOn.length}) and rightOn (${rightOn.length}) differ in length")
    val spark = left.sparkSession
    graft.api.Graft.register(spark)
    val resolver = spark.sessionState.analyzer.resolver
    def attr(out: Seq[Attribute], name: String, side: String): Attribute =
      out.filter(a => resolver(a.name, name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"asofJoin: no column '$name' on the $side side (have ${out.map(_.name).mkString(", ")})")
        case many => throw new IllegalArgumentException(
          s"asofJoin: ambiguous column '$name' on the $side side (${many.size} matches)")
      }
    val lPlan = left.queryExecution.analyzed
    val rAliases = right.queryExecution.analyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, right.queryExecution.analyzed)
    val rOut = rAliases.map(_.toAttribute)
    val node = AsOfJoin(
      lPlan, rPlan,
      leftOn.map(attr(lPlan.output, _, "left")), rightOn.map(attr(rOut, _, "right")),
      attr(lPlan.output, leftTsCol, "left"), attr(rOut, rightTsCol, "right"),
      outer, forward)
    org.apache.spark.sql.graftbridge.PlanDataset.ofRows(spark, node)
  }
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; injected by GraftExtensions /
  * registered by `Graft.register`. Everything else falls through to Spark's own
  * strategies (`Nil`). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, outer, forward) =>
      AsOfJoinExec(lk, rk, lt, rt, outer, forward, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical backward as-of join. Children are hash-clustered on the
  * by-keys and sorted by (keys, ts) — declared via
  * `requiredChildDistribution`/`requiredChildOrdering` so EnsureRequirements
  * inserts (or elides, when a child is already co-partitioned/sorted) the
  * exchanges and sorts. The merge itself is a per-partition two-pointer
  * pass: the right iterator is consumed at most once, and the only
  * buffered state is the latest right row whose ts has been passed
  * (`cand`) — O(1) memory per partition regardless of group sizes. Not whole-stage-codegen'd (a custom `doExecute`
  * operator is a codegen boundary); the fused probe loop is the interpreted
  * part, while both inputs' scans/filters/sorts stay inside their own
  * codegen stages.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    outer: Boolean,
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (outer) right.output.map(_.withNullability(true))
                    else right.output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  // Rows stream out in left order, partitioned as the left child was
  // (post-EnsureRequirements: hash on the by-keys) — downstream per-key
  // aggs can reuse it shuffle-free, like sort-merge join declares.
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def keyTsOrder(keys: Seq[Expression], ts: Expression): Seq[SortOrder] =
    (keys :+ ts).map(SortOrder(_, Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keyTsOrder(leftKeys, leftTs), keyTsOrder(rightKeys, rightTs))

  override def outputOrdering: Seq[SortOrder] = keyTsOrder(leftKeys, leftTs)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val isOuter = outer
    val isFwd = forward
    val outAttrs = output // local: keep `this` out of the task closure
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTs = leftTs; val rTs = rightTs
    val lOut = left.output; val rOut = right.output
    val keyTypes = lKeys.map(_.dataType)
    val tsType = lTs.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTs), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTs), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType))
      // Bind the node's output against ITSELF, not against lOut ++ rOut:
      // UnsafeProjection takes each column's nullability from the INPUT
      // schema attr, so binding the child attributes would keep a
      // non-nullable right column non-nullable and the outer null-fill
      // would silently materialize 0/false (or NPE on strings) instead
      // of NULL. Positions and exprIds are identical either way.
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rOut.length) // all-null fill
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // Latest right row already passed whose key might still match.
      // UnsafeRow iterators reuse their backing buffer, so the candidate
      // must be copied out — into ONE persistent holder (copyFrom grows
      // and reuses its buffer) rather than a fresh allocation per
      // consumed right row: this is the merge's innermost loop.
      val candHolder = new UnsafeRow(rOut.length)
      candHolder.pointTo(new Array[Byte](64), 0) // copyFrom needs a byte[] base
      var cand: UnsafeRow = null // null until the first candidate, then candHolder
      // The candidate's by-key, copied ONCE when the candidate is stored
      // (a candidate is only taken at keyOrd == 0, so its key IS the
      // current left key) — the emit path then compares this stable copy
      // instead of re-projecting the candidate's key per left row, which
      // drops the last per-row projection from the hot loop (VERDICT r8
      // #2: the remaining per-left-row work is two codegen'd projections
      // on l plus the final result projection).
      val candKeyHolder = new UnsafeRow(lKeys.length)
      candKeyHolder.pointTo(new Array[Byte](64), 0)
      if (isFwd) lIter.map { l =>
        // FORWARD merge: the match for l is the FIRST right row with equal
        // key and rt >= lt — exactly the right head once every same-key
        // row with rt < lt is discarded (useless for this and all later
        // left rows: lt only grows within a key). The head is matched
        // WITHOUT being consumed — the next left row may share it — so
        // the forward path buffers nothing and copies nothing.
        val lk = lKeyProj(l)
        val ltRow = lTsProj(l)
        val ltNull = ltRow.isNullAt(0)
        var decided = false
        var hit = false
        while (!decided && rBuf.hasNext) {
          val c = keyOrd.compare(rKeyProj(rBuf.head), lk)
          if (c < 0) rBuf.next() // stale key: discard
          else if (c == 0) {
            val rt = rTsProj(rBuf.head)
            if (rt.isNullAt(0)) rBuf.next() // NULL ts never matches
            else if (ltNull) decided = true // NULL left ts matches nothing
            else if (tsOrd.compare(rt, ltRow) < 0) rBuf.next() // too early forever
            else { hit = true; decided = true }
          } else decided = true // head's key is ahead of l's
        }
        if (hit) {
          numOutputRows += 1
          resultProj(joined(l, rBuf.head)): InternalRow
        } else if (isOuter) {
          numOutputRows += 1
          resultProj(joined(l, nullRight)): InternalRow
        } else null
      }.filter(_ != null)
      else lIter.map { l =>
        val lk = lKeyProj(l) // valid until the next lKeyProj call (next l)
        val ltRow = lTsProj(l)
        val ltNull = ltRow.isNullAt(0)
        var scanning = true
        while (scanning && rBuf.hasNext) {
          val c = keyOrd.compare(rKeyProj(rBuf.head), lk)
          if (c < 0) {
            // Right key below every remaining left key (left is sorted):
            // can never match — discard without copying.
            rBuf.next()
          } else if (c == 0) {
            val rt = rTsProj(rBuf.head) // project once per head row
            if (rt.isNullAt(0)) {
              // A NULL right ts never matches (SQL comparison semantics —
              // the composed twin's isNotNull filter and DuckDB ASOF JOIN
              // both reject it); NULLs sort FIRST within the key, so
              // discard and keep scanning this key's non-null rows.
              rBuf.next()
            } else if (!ltNull && tsOrd.compare(rt, ltRow) <= 0) {
              candHolder.copyFrom(rBuf.next().asInstanceOf[UnsafeRow])
              cand = candHolder
              candKeyHolder.copyFrom(lk) // c == 0: candidate key == lk
            } else {
              scanning = false // head is ahead of l (or l's ts is null)
            }
          } else {
            scanning = false // right head's key is ahead of l's
          }
        }
        // A NULL left ts matches nothing (p.ts >= s.ts is never true).
        // candKeyHolder is the stable by-key copied at candidate-store
        // time, so the staleness check (cand may be from a PREVIOUS left
        // key) is a pure comparison — no projection runs on the emit path.
        if (!ltNull && cand != null &&
            keyOrd.compare(candKeyHolder, lk) == 0) {
          numOutputRows += 1
          resultProj(joined(l, cand)): InternalRow
        } else if (isOuter) {
          numOutputRows += 1
          resultProj(joined(l, nullRight)): InternalRow
        } else null
      }.filter(_ != null)
    }
  }
}
