package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression suite: the scale claims in the operator modules
  * (pushdown reaches the parquet scan, broadcast stays broadcast, the custom
  * cosine never falls back out of codegen, pivot never runs a distinct-values
  * job) are physical-plan properties that a future edit could silently break
  * while every sf0.01 hash still matches. These tests freeze them.
  *
  * AQE is disabled for the duration of this suite (restored after): with AQE
  * on, the pre-execution plan string is an un-finalized AdaptiveSparkPlan
  * without codegen markers, and runtime re-planning at toy scale could swap a
  * deliberately-hinted join strategy. What we pin here is the STATIC planning
  * result — the hints, pushdown and codegen eligibility that hold at any
  * scale factor.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private var prevAqe: Option[String] = None
  override def beforeAll(): Unit = {
    prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }
  override def afterAll(): Unit = prevAqe match {
    case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
    case None    => spark.conf.unset("spark.sql.adaptive.enabled")
  }

  /** Physical plan tree string of a contract query (static planning only —
    * nothing is executed). */
  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, d).queryExecution.executedPlan.toString

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every node of a physical plan's final form, including the plans of
    * the cached frames it scans. */
  private def nodesOf(p: SparkPlan): Seq[SparkPlan] =
    collect(p) { case n => n } ++
      collect(p) { case s: InMemoryTableScanExec => nodesOf(s.relation.cachedPlan) }.flatten

  /** InMemoryRelations a logical plan reads, nested caches included. */
  private def cachedRelations(lp: LogicalPlan): Int =
    lp.collect { case r: InMemoryRelation =>
      1 + nodesOf(r.cachedPlan).count(_.isInstanceOf[InMemoryTableScanExec])
    }.sum

  test("scan_filter_pushdown: predicate reaches the parquet reader") {
    val p = plan("scan_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"l_shipdate >= filter not pushed to the scan:\n$p")
    assert(!p.contains("PushedFilters: []"), s"empty pushdown list:\n$p")
  }

  test("scan_pruned: ReadSchema carries exactly the 3 projected columns") {
    val p = plan("scan_pruned")
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p)
      .getOrElse(fail(s"no ReadSchema in plan:\n$p")).group(1)
    val fields = rs.split(",").map(_.split(":")(0).trim).toSet
    assert(fields === Set("l_orderkey", "l_linenumber", "l_quantity"),
      s"column pruning regressed — scan reads $fields")
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_sortmerge keeps its SortMergeJoin hint") {
    assert(plan("join_sortmerge").contains("SortMergeJoin"))
  }

  test("join_shuffle_hash keeps its ShuffledHashJoin hint") {
    assert(plan("join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  // Sensitivity check: the BroadcastHashJoin assertions above must be
  // falsifiable. The same join WITHOUT the hint, with auto-broadcast off,
  // must NOT plan a broadcast — proving the assertion tracks the hint, not
  // a string that happens to always match.
  test("dropping the broadcast hint is detected (assertions have teeth)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val n = Tables.nation(spark, d)
      val r = Tables.region(spark, d)
      val p = planOf(
        n.join(r, n("n_regionkey") === r("r_regionkey"))
          .select("n_nationkey", "n_name", "r_name"))
      assert(!p.contains("BroadcastHashJoin"),
        s"expected no broadcast without hint+threshold:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stream_static_join's dimension side broadcasts (batch twin)") {
    // The streaming query's per-batch plan is not inspectable post-run (the
    // memory sink returns a LocalTableScan), so pin the identical join shape
    // — same broadcast(cust) construct StreamOps uses — on the batch source.
    val ev = Tables.events(spark, d)
    val cust = Tables.customer(spark, d).select(col("c_custkey"), col("c_mktsegment"))
    val p = planOf(
      ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "value"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("llm_knn_bruteforce: graft_cosine stays inside whole-stage codegen") {
    val p = plan("llm_knn_bruteforce")
    assert(!p.contains("BatchEvalPython"), p)
    assert(p.contains("graft_cosine"), p)
    // CollapseCodegenStages marks codegen'd operators with '*(id)'. The
    // Project evaluating graft_cosine must carry the marker — an expression
    // that lost doGenCode (or became a UDF) would leave a bare Project.
    val projLines = p.linesIterator.filter(l =>
      l.contains("Project") && l.contains("graft_cosine")).toSeq
    assert(projLines.nonEmpty, s"no Project with graft_cosine in:\n$p")
    assert(projLines.forall(_.contains("*(")),
      s"graft_cosine fell out of codegen:\n${projLines.mkString("\n")}")
    // and the capped candidate side is broadcast, never shuffled
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("llm_quantize_int8: double-array graft_cosine stays in codegen") {
    // the float path is pinned via llm_knn_bruteforce; this pins the
    // double[] specialization added for dequantized search — a silent
    // fallback would re-interpret the hottest loop
    val p = plan("llm_quantize_int8")
    val projLines = p.linesIterator.filter(l =>
      l.contains("graft_cosine") && l.contains("Project")).toSeq
    assert(projLines.nonEmpty, s"no Project with graft_cosine in:\n$p")
    assert(projLines.forall(_.contains("*(")),
      s"double-array graft_cosine fell out of codegen:\n${projLines.mkString("\n")}")
  }

  test("CosineSimilarity is not a CodegenFallback expression") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    assert(!classOf[CodegenFallback].isAssignableFrom(
      classOf[graft.functions.CosineSimilarity]))
  }

  test("agg_pivot: fixed-width pivotfirst plan, no Expand") {
    // Explicit pivot values ⇒ Spark's two-level pivot plan: a partial+final
    // count on (o_year, o_orderpriority) feeding a partial+final pivotfirst
    // on o_year — 4 HashAggregate nodes, fixed output width. (The
    // distinct-values job that pivot-without-values runs is EAGER at query
    // construction, so its absence can't show in this plan — what can is
    // that the whole query is hash-aggs: no Expand, no extra exchange
    // beyond the two agg boundaries + final sort.)
    val p = plan("agg_pivot")
    val nAgg = "HashAggregate".r.findAllIn(p).length
    assert(nAgg === 4, s"expected 4 HashAggregate nodes (2 partial+final pairs), got $nAgg:\n$p")
    assert(p.contains("pivotfirst"), s"pivotfirst aggregate missing:\n$p")
    assert(p.contains("partial_"), s"map-side partial aggregation missing:\n$p")
    assert(!p.contains("Expand"), s"unexpected Expand (distinct-style plan):\n$p")
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx <= 3, s"expected ≤3 exchanges (2 agg + sort), got $nEx:\n$p")
  }

  test("agg_groupby does map-side partial aggregation") {
    val p = plan("agg_groupby")
    assert(p.contains("partial_"), s"no partial aggregate in:\n$p")
  }

  test("llm_neardup_embedding: broadcast loop join, codegen'd cosine") {
    val p = plan("llm_neardup_embedding")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val projLines = p.linesIterator.filter(l =>
      l.contains("graft_cosine") && l.contains("Project")).toSeq
    assert(projLines.forall(_.contains("*(")), s"cosine fell out of codegen:\n$p")
  }

  test("join_bucketed: co-located SortMergeJoin with NO exchange") {
    // run the contract query once so the bucketed tables exist, then pin
    // the plan of the bare join (the query's agg adds its own exchange,
    // which is expected — the claim is about the JOIN inputs)
    SparkEntry.queries("join_bucketed")(spark, d).collect()
    val (ordersTbl, custTbl) = graft.ops.JoinOps.bucketedTables(spark, d)
    val o = spark.table(ordersTbl)
    val c = spark.table(custTbl)
    def join = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(o("o_orderkey"), c("c_mktsegment"))
    // at sf0.001 the dim auto-broadcasts (which bypasses bucket reads
    // entirely); bucketing exists for the big⋈big case, so pin THAT shape
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planOf(join)
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("SelectedBucketsCount"), s"scan not bucketed:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles — bucketing metadata lost:\n$p")
      // Spark 3+ ignores the write-time sortBy order by DEFAULT (legacy
      // conf off since 3.0) and re-sorts each bucket locally — that's a
      // linear partition-local pass, not a shuffle. With the legacy conf on
      // (and one file per bucket, which the writer guarantees via
      // repartition), even the Sort disappears — pin both behaviors.
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val p2 = planOf(join)
      assert(!p2.contains("Exchange"), p2)
      assert(!p2.linesIterator.exists(_.trim.matches("^[+:*()\\d ]*Sort \\[.*")),
        s"bucketed join re-sorts despite sortBy + one file per bucket:\n$p2")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    }
  }

  test("text-signature builds: only the compute-widen exchange, no key shuffle") {
    // the 104s→4s class of regression (module docs in LlmOps/TextOps) is a
    // compute-shape bug, but a KEY shuffle sneaking into the per-doc
    // signature build would be the same order of damage at 100 TB. The
    // builds are allowed exactly one round-robin exchange — the
    // documentsWide compute-widening over a narrower-than-cores scan,
    // bytes-bounded and a no-op on a wide production corpus — and no
    // hash/range repartitioning of any kind. clearCache first: a prior
    // suite may have materialized these cached frames, which would hide
    // the real plan behind an InMemoryTableScan.
    spark.catalog.clearCache()
    def checkBuild(tag: String, p: String): Unit = {
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.forall(_.contains("RoundRobinPartitioning")),
        s"$tag build shuffles on a key:\n$p")
      assert(exchanges.size <= 1,
        s"$tag build has ${exchanges.size} exchanges (1 widen allowed):\n$p")
    }
    checkBuild("simhash sig", planOf(graft.ops.LlmOps.simhashSigs(spark, d, "md5")))
    checkBuild("fingerprint", planOf(graft.ops.TextOps.fingerprints(spark, d, "md5")))
  }

  test("dedup text kernels: one split per row, native signatures, one simhash cache") {
    import graft.ops.LlmOps
    spark.catalog.clearCache()
    val docs = Tables.documentsWide(spark, d)
    // shingles are cut from ONE projected word array, and the >=1-shingle
    // filter never re-evaluates the shingle expression
    val shingled = LlmOps.shingledOf(docs).queryExecution.optimizedPlan
    assert("split\\(".r.findAllIn(shingled.toString).length === 1, shingled)
    assert(shingled.collect { case f: Filter => f }
      .forall(!_.condition.toString.contains("array_distinct")), shingled)
    // MinHash signatures come from the per-row kernel, not an exploded
    // shingle-row aggregate
    val banded = planOf(LlmOps.bandedSigs(LlmOps.shingledOf(docs)))
    assert(banded.contains("graft_minhash") && !banded.contains("explode(sh"), banded)
    // the SimHash vote is lambda-free and the signature frame is the only
    // cache (the token hashes are read once, by the kernel)
    val tok = spark.range(50).select(col("id").as("doc_id"),
      array(col("id"), col("id") * 3, col("id") * 7).as("harr"))
    val sigs = LlmOps.simhashSigsOf(tok).queryExecution
    assert(!sigs.optimizedPlan.toString.contains("lambdafunction") &&
           !sigs.executedPlan.toString.contains("lambdafunction"), sigs.executedPlan)
    assert(cachedRelations(sigs.optimizedPlan) === 1, sigs.optimizedPlan)
    val md5Sigs = LlmOps.simhashSigs(spark, d, "md5").queryExecution.optimizedPlan
    assert(cachedRelations(md5Sigs) === 1, md5Sigs)
    spark.catalog.clearCache()
  }

  test("snippetOf splits each candidate once and never re-evaluates the match") {
    import graft.ops.WebOps
    val snip = WebOps.snippetOf(Tables.documentsWide(spark, d), "doc_id", "text",
      WebOps.PhraseTerms(0), WebOps.PhraseTerms(1), WebOps.SnippetContext)
    val p = snip.queryExecution.optimizedPlan
    assert("split\\(".r.findAllIn(p.toString).length === 1, p)
    // the only Filter is the substring prefilter, never the lambda match
    assert(p.collect { case f: Filter => f }
      .forall(!_.condition.toString.contains("lambdafunction")), p)
  }

  test("llm_dedup_incremental reads the day-1 signature store, not a rebuild") {
    // the incremental contract: day-1 signatures AND day-1 shingle sets
    // come from the persisted store's parquet (two scans of the sigstore
    // dir in the plan) — if a refactor quietly re-derived day 1 from
    // documents, the store paths would vanish from the scan locations
    val p = plan("llm_dedup_incremental")
    val storeScans = "graft-sigstore-".r.findAllIn(p).length
    assert(storeScans >= 2,
      s"expected >=2 signature-store scans (bands + sh), found $storeScans:\n$p")
  }

  test("llm_knn_ivf reads the trained ANN store, not a k-means retrain (r16 verdict #1)") {
    // the store contract: the centroids AND the plain-IVF posting come
    // from the persisted day-1 ANN index (two graft-annindex scans in the
    // plan). A refactor that quietly re-trained k-means per invocation
    // would drop the store paths from the scan locations and reintroduce
    // the iterative crossJoin/agg chain this pin exists to keep out.
    val p = plan("llm_knn_ivf")
    val storeScans = "graft-annindex".r.findAllIn(p).length
    assert(storeScans >= 2,
      s"expected >=2 ANN-store scans (cen + posting_ivf), found $storeScans:\n$p")
  }

  test("sink_parquet_partitioned: read-back filter prunes partitions") {
    val p = plan("sink_parquet_partitioned")
    assert(p.contains("PartitionFilters: ["), p)
    assert("PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(p).isDefined,
      s"o_year filter not in PartitionFilters — partition pruning lost:\n$p")
  }

  test("llm_neardup_containment: df-cap conf switches to the capped candidate plan") {
    // Default: fused posting-count plan (no shingle-set confirm join).
    // Capped: posting lists filtered by size before pair expansion, and the
    // confirm reads full shingle sets via array_intersect. Pin both shapes
    // so a refactor can't silently lose the cap or degrade the default.
    val key = graft.ops.LlmOps.ContainmentDfCapKey
    spark.conf.unset(key)
    val def0 = plan("llm_neardup_containment")
    assert(!def0.contains("array_intersect"),
      s"default containment plan grew a shingle-set confirm join:\n$def0")
    spark.conf.set(key, "17")
    try {
      val capped = plan("llm_neardup_containment")
      assert(capped.contains("array_intersect"),
        s"capped plan lost the exact shingle-set confirm:\n$capped")
      assert("size\\(ids[^)]*\\) <= 17".r.findFirstIn(capped).isDefined,
        s"capped plan lost the df filter on posting lists:\n$capped")
    } finally spark.conf.unset(key)
  }

  test("sort_multi: count() elides the global sort entirely") {
    // VERDICT r4 #3: Bench times `sort_multi.count()`; the optimizer's
    // EliminateSorts must drop the order-irrelevant Sort under the count
    // aggregate, leaving no Sort and no range exchange — the count then
    // costs one scan. If this ever stops firing (a conf default change, a
    // query edit that makes the sort semantically load-bearing), the 8×
    // bench drift shows up here as a loud failure, not a bench mystery.
    val counted = SparkEntry.queries("sort_multi")(spark, d).groupBy().count()
    val p = planOf(counted)
    assert(!p.contains("Sort "), s"count() path still sorts:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"count() path still range-shuffles:\n$p")
    // and the un-counted query DOES sort (the elision is count-specific,
    // not a lost ORDER BY)
    val full = plan("sort_multi")
    assert(full.contains("Sort "), s"sort_multi lost its sort:\n$full")
  }

  test("opt_dpp_prune: fact scan carries a dynamic partition pruning filter") {
    val p = plan("opt_dpp_prune")
    assert(p.contains("dynamicpruningexpression"),
      s"no DPP filter anywhere in the plan:\n$p")
    // the pruning must sit ON the fact scan's own line (its
    // PartitionFilters), not merely somewhere in the plan — find the
    // yr-partitioned lineitem FileScan and assert the dynamic filter is
    // attached to IT
    val factLine = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("lineitem_by_year"))
    assert(factLine.isDefined, s"partitioned fact scan missing from plan:\n$p")
    assert(factLine.get.contains("dynamicpruning"),
      s"DPP filter not attached to the fact scan's PartitionFilters:\n${factLine.get}\n$p")
  }

  test("scan_jdbc_pushdown: the price predicate reaches the JDBC source") {
    // EXCEPTION to plan()'s nothing-executes rule: the JDBC source needs
    // its Derby fixture to exist before the relation can even resolve, so
    // this test stages it explicitly (once per JVM) — the plan inspection
    // itself still executes nothing.
    graft.ops.ScanOps.jdbcOrdersUrl(spark, d)
    val p = plan("scan_jdbc_pushdown")
    val scanLine = p.linesIterator.find(_.contains("JDBCRelation"))
    assert(scanLine.isDefined, s"no JDBC scan in plan:\n$p")
    assert(scanLine.get.contains("PushedFilters") &&
           scanLine.get.toLowerCase.contains("o_totalprice"),
      s"price filter not pushed into the JDBC read:\n${scanLine.get}")
  }

  test("opt_runtime_bloom_join: bloom filter is injected on the fact side") {
    // Pin on the UNCACHED join body under the key's exact conf scope (the
    // key itself returns a cached result whose plan is an
    // InMemoryTableScan). might_contain over a bloom_filter_agg subquery is
    // InjectRuntimeFilter's signature.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val opt = graft.ops.OptOps.bloomJoin(spark, d)
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"runtime bloom filter not injected:\n$opt")
      assert(opt.contains("bloom_filter_agg"),
        s"bloom creation-side aggregate missing:\n$opt")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("win_ntile_scalable: row-level data never funnels through one partition") {
    val p = plan("win_ntile_scalable")
    // The per-row Window must be partitioned (by bkt) — a global
    // Window.orderBy would print a windowspecdefinition with no partition
    // column list and a SinglePartition exchange under row-level input.
    // SinglePartition IS allowed over the per-bucket COUNTS (that table is
    // #buckets rows); pin that by requiring every SinglePartition exchange's
    // direct child to be a HashAggregate, never a scan/projection of rows.
    val lines = p.linesIterator.toIndexedSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val child = lines.drop(i + 1).find(_.trim.nonEmpty).getOrElse("")
        assert(child.contains("HashAggregate"),
          s"SinglePartition over non-aggregated input:\n$p")
    }
    // and the row-level window itself carries a partition spec
    val rowWin = lines.filter(l => l.contains("Window [row_number()"))
    assert(rowWin.nonEmpty && rowWin.forall(_.contains("], [bkt")),
      s"row-level window lost its bucket partitioning:\n$p")
  }

  test("agg_decile_lift: ranking never funnels row-level data through one partition") {
    // r15 verdict scale-note: the lift ranking used a GLOBAL Window.orderBy.
    // It now runs the win_ntile_scalable two-pass plan; same pin — every
    // SinglePartition exchange must sit over a HashAggregate (the 1-row
    // frame stats / ≤1024-row bucket stats), never over row-level input,
    // and the row-level row_number window must carry the bkt partition.
    val p = plan("agg_decile_lift")
    val lines = p.linesIterator.toIndexedSeq
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val child = lines.drop(i + 1).find(_.trim.nonEmpty).getOrElse("")
        assert(child.contains("HashAggregate"),
          s"SinglePartition over non-aggregated input:\n$p")
    }
    val rowWin = lines.filter(l => l.contains("Window [row_number()"))
    assert(rowWin.nonEmpty && rowWin.forall(_.contains("], [bkt")),
      s"row-level ranking window lost its bucket partitioning:\n$p")
  }

  test("llm_ann_recall_ivf: the truth-join eval is an equi-join, never a nested loop") {
    // recallEvalOf's comparison must stay one co-partitionable equi-join
    // on (q_id, n_id) — eval cost is index cost, not corpus cost. The
    // BNLJs inside the plan are the declared capped-query ×
    // broadcast-candidate knn shapes; the LeftOuter comparison itself
    // must be a hash/sort-merge equi-join and nothing may be Cartesian.
    val p = plan("llm_ann_recall_ivf")
    assert(!p.contains("CartesianProduct"), "cartesian in the recall plan")
    val outer = p.linesIterator.filter(_.contains("LeftOuter")).toSeq
    assert(outer.nonEmpty, s"no LeftOuter comparison join found:\n$p")
    assert(outer.forall(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
        l.contains("ShuffledHashJoin")),
      s"recall comparison degraded to a non-equi join:\n${outer.mkString("\n")}")
  }

  test("llm_substring_dedup: no pair enumeration anywhere in the plan") {
    // the scale claim: repeated-span detection is agg + join-back on the
    // span hash — a doc-pair expansion (cartesian or nested-loop) would
    // reintroduce the O(df²) hot-boilerplate blow-up containment needs a
    // df-cap for
    val p = plan("llm_substring_dedup")
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(5).mkString("\n"))
    // the repeated-span set joins back by hash equality
    assert(p.contains("[h"), "span-hash join key missing from the plan")
  }

  test("substring operators share ONE span cache (plan-fingerprint pin)") {
    // llm_substring_dedup and llm_substring_drop each cache() the span-hash
    // build, and their costs are budgeted on the CacheManager serving BOTH
    // from one entry — which holds only while the two operators construct
    // the IDENTICAL analyzed subtree (VERDICT r6 #8). This pins it: after
    // planning both keys, every InMemoryRelation across the two optimized
    // plans must resolve to the same cached plan (one fingerprint), so an
    // edit that silently forks the span build fails here instead of
    // doubling the other operator's cost.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    try {
      val dedup = SparkEntry.queries("llm_substring_dedup")(spark, d)
      val drop = SparkEntry.queries("llm_substring_drop")(spark, d)
      val imrs = Seq(dedup, drop).flatMap(_.queryExecution.optimizedPlan.collect {
        case r: InMemoryRelation => r
      })
      assert(imrs.size >= 2, "span cache missing from the substring plans")
      val fingerprints = imrs.map(_.cachedPlan.canonicalized.toString).toSet
      assert(fingerprints.size === 1,
        s"substring span builds diverged into ${fingerprints.size} distinct " +
        "cached plans — the shared-cache cost model is broken")
    } finally spark.catalog.clearCache()
  }

  test("r7 keys: no pair enumeration; probes broadcast over the merged posting") {
    // llm_substring_dedup_multi inherits the no-pair-enumeration scale
    // claim at every span length; llm_ann_incremental must keep the
    // ivfPqSearchPosting shape over the UNIONED posting — probe set
    // broadcast (BroadcastHashJoin on cell), never the posting shuffled
    // into <= #cells skewed partitions or a nested-loop fallback.
    val multi = plan("llm_substring_dedup_multi")
    assert(!multi.contains("CartesianProduct") &&
           !multi.contains("BroadcastNestedLoopJoin"),
      multi.linesIterator.take(5).mkString("\n"))
    val inc = plan("llm_ann_incremental")
    assert(!inc.contains("CartesianProduct"),
      inc.linesIterator.take(5).mkString("\n"))
    assert(inc.contains("BroadcastHashJoin [cell"),
      s"probe set must broadcast over the posting scan:\n$inc")
    assert(inc.contains("Union"), "merged posting lost its union")
  }

  test("graft-bus: readStream resolves to the custom DSv2 table") {
    val topic = graft.streaming.StreamOps.busTopic(spark, d)
    val df = spark.readStream.format("graft-bus").option("topic", topic).load()
    assert(df.isStreaming)
    val analyzed = df.queryExecution.analyzed.toString
    // StreamingRelationV2 must carry OUR table (graft-bus:<topic> via
    // BusSource), not a fallback V1 relation — the connector-registration
    // path (META-INF/services) is part of what this pins.
    assert(analyzed.contains("graft-bus"),
      s"custom bus table missing from analyzed plan:\n$analyzed")
    assert(df.schema.fieldNames.toSeq ===
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("lshProbe reads the persisted posting — one Generate, two store scans") {
    // The store's value is that day-2 probes do NOT rebuild the corpus
    // posting: the only Generate (posexplode) in the probe plan is the
    // query side's own bands; the corpus posting and vectors come from
    // parquet scans of the store path.
    val dir = java.nio.file.Files.createTempDirectory("graft-lshplan-").toString
    graft.api.Similarity.buildLshStore(Tables.embeddings(spark, d), dir)
    val p = planOf(graft.api.Similarity.lshProbe(
      Tables.embeddings(spark, d).filter(col("vec_id") < 100), dir))
    val generates = "Generate ".r.findAllIn(p).length
    assert(generates === 1, s"expected only the query-side posexplode:\n$p")
    assert("graft-lshplan-".r.findAllIn(p).length >= 2,
      s"store parquet scans missing from probe plan:\n$p")
  }

  test("join_asof_native plans AsOfJoinExec: 2 key exchanges, no window") {
    val p = plan("join_asof_native")
    assert(p.contains("AsOfJoin"), s"native as-of operator missing:\n$p")
    // Exactly the sort-merge-join movement: one hash exchange per side on
    // the by-key, plus the final orderBy's range exchange — nothing else.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
    // The composed join_asof pays a WindowExec buffering each user's
    // frame; the native operator must not.
    assert(!p.contains("Window"), s"native as-of fell back to a window:\n$p")
    // Both event scans keep their pushed event_type predicate.
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(event_type".r
      .findAllIn(p).length === 2, s"event_type filters not pushed:\n$p")
    // The outer and forward variants must keep the identical physical
    // shape — same exec node, same two key exchanges, still no window.
    for (k <- Seq("join_asof_outer", "join_asof_forward")) {
      val pv = plan(k)
      assert(pv.contains("AsOfJoin"), s"$k lost the native operator:\n$pv")
      val ex = "Exchange hashpartitioning".r.findAllIn(pv).length
      assert(ex === 2, s"$k: expected 2 hash exchanges, got $ex:\n$pv")
      assert(!pv.contains("Window"), s"$k fell back to a window:\n$pv")
    }
  }

  test("sink_merge_upsert: the anti-join broadcasts the delta keys") {
    // the scale claim: the base snapshot never shuffles — the MERGE's
    // only movement is the broadcast of the delta's key column. A plain
    // anti-join would print a SortMergeJoin/ShuffledHashJoin LeftAnti
    // with a hash exchange on the snapshot side.
    val orders = Tables.orders(spark, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val base = orders.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .withColumn("src", lit("base"))
    val upd = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("src", lit("upd"))
    val p = planOf(graft.ops.ScanOps.mergeUpsertOf(base, upd, Seq("o_orderkey")))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"merge anti-join must broadcast the delta keys:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"base snapshot must not shuffle in a broadcast MERGE:\n$p")
  }

  test("join_asof_skew: no per-user window partition over event rows") {
    val p = plan("join_asof_skew")
    val lines = p.linesIterator.toIndexedSeq
    // The event-row window (the union-tag last() pass) must carry the
    // (user_id, slice) partitioning — a user-only spec here is exactly
    // the hot-key pile-up the key exists to avoid.
    val lastWin = lines.filter(_.contains("Window [last("))
    assert(lastWin.length === 1, s"expected one last() window:\n$p")
    assert(lastWin.head.contains("windowspecdefinition(user_id") &&
             lastWin.head.contains("slice"),
      s"event-row window lost its (user_id, slice) partitioning:\n$p")
    // The only user-only window is the carry pass, and it must sit over
    // aggregated (user, slice) rows — a HashAggregate below it before any
    // scan — never over raw event rows.
    lines.zipWithIndex.filter(_._1.contains("Window [max(")).foreach {
      case (l, i) =>
        assert(l.contains("windowspecdefinition(user_id"), s"carry window:\n$p")
        val below = lines.drop(i + 1)
          .takeWhile(l => !l.contains("FileScan") && !l.contains("InMemoryTableScan"))
          .mkString("\n")
        assert(below.contains("HashAggregate"),
          s"carry window must sit over the per-slice aggregate:\n$p")
    }
  }

  test("llm_token_budget: no language-sized window partition over doc rows") {
    val p = plan("llm_token_budget")
    val lines = p.linesIterator.toIndexedSeq
    // Two windows total: the language-running-total over the BUCKET frame
    // (partitioned by lang alone — legal: its input is a HashAggregate of
    // (lang, quality) rows, never doc rows) and the doc-row cumulative
    // (must be partitioned by lang AND quality). Pin both properties.
    val winLines = lines.zipWithIndex
      .filter(_._1.contains("Window [sum("))
    assert(winLines.length === 2, s"expected 2 windows:\n$p")
    // the doc-row window carries the fine-grained two-column partitioning
    val docWin = winLines.filter { case (l, _) =>
      l.contains("windowspecdefinition(lang") && l.contains("quality") &&
        l.contains("doc_id")
    }
    assert(docWin.length === 1,
      s"doc-row window lost its (lang, quality) partitioning:\n$p")
    // the other window is lang-only and must sit over the bucket
    // aggregate, never raw doc rows: a HashAggregate appears in its
    // subtree before any scan (parquet or the cached per-doc frame)
    winLines.filterNot(docWin.contains).foreach { case (_, i) =>
      val below = lines.drop(i + 1)
        .takeWhile(l => !l.contains("FileScan") && !l.contains("InMemoryTableScan"))
        .mkString("\n")
      assert(below.contains("HashAggregate"),
        s"lang-only window must sit over the bucket aggregate:\n$p")
    }
  }

  test("llm_semdedup: centroids broadcast; assignment cache shared by all consumers") {
    val df = SparkEntry.queries("llm_semdedup")(spark, d)
    val p = planOf(df)
    // centroid side of the assignment is a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
    // the cached assignment frame serves the pair sides and the verdict
    // join — all three consumers read the InMemoryRelation (a consumer
    // collapsed into a ReusedExchange counts: since r17 the store-backed
    // cen lineage is deterministic enough that the planner shares ONE
    // shuffle between the identical a/b pair sides — strictly fewer
    // reads, same no-recompute guarantee), so the crossJoin+argmax
    // aggregate appears ONLY under the cache build
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    val reused = "ReusedExchange".r.findAllIn(p).length
    assert(scans + reused >= 3,
      s"expected >=3 cache/reuse reads (a, b, verdict), got $scans scans + $reused reused:\n$p")
    assert(scans >= 2, s"expected >=2 direct cache reads, got $scans:\n$p")
  }

  // sql_recursive_cte must actually exercise Spark 4.1's recursive-CTE
  // machinery (UnionLoopExec), not a rewrite into something else — the key
  // exists to pin the WITH RECURSIVE surface end-to-end.
  test("sql_recursive_cte plans a UnionLoop (native recursive CTE)") {
    val p = plan("sql_recursive_cte")
    assert(p.contains("UnionLoop"), s"no UnionLoop node in plan:\n$p")
  }

  test("sql_join_hints: hints flip the join strategy on identical text") {
    SparkEntry.queries("sql_join_hints")(spark, d) // registers the *_m views
    def q(hint: String) = spark.sql(s"""
      SELECT /*+ $hint */ o_orderpriority, count(*) AS n
      FROM orders_m o JOIN lineitem_m l ON o_orderkey = l_orderkey
      WHERE o_totalprice > 300000
      GROUP BY o_orderpriority""")
    val smj = planOf(q("SHUFFLE_MERGE(o)"))
    assert(smj.contains("SortMergeJoin"), s"SHUFFLE_MERGE hint ignored:\n$smj")
    val bhj = planOf(q("BROADCAST(o)"))
    assert(bhj.contains("BroadcastHashJoin"), s"BROADCAST hint ignored:\n$bhj")
  }

  test("opt_exchange_reuse: one shuffle feeds both consumers (ReusedExchange)") {
    val p = plan("opt_exchange_reuse")
    assert(p.contains("ReusedExchange"),
      s"the per-order aggregate's exchange is not reused:\n$p")
  }

  test("sql_q19_disjunctive: per-table OR trees pushed to both scans") {
    val p = plan("sql_q19_disjunctive")
    // lineitem side: the OR of the three quantity bands reaches the scan
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)") ||
           (p.contains("PushedFilters") && p.contains("l_quantity,1.0")),
      s"quantity OR-band not pushed to lineitem scan:\n$p")
    // part side: the brand∧size disjunction is evaluated on the part side
    // (the scan's PushedFilters render truncated in the tree string, so
    // pin the Filter node's predicate instead)
    assert(p.contains("= Brand#12)") && p.contains("= Brand#34)"),
      s"brand disjunction not applied on the part side:\n$p")
  }

  test("sql_exists_in: EXISTS plans a semi join, NOT IN an anti join") {
    val p = plan("sql_exists_in")
    assert(p.contains("LeftSemi"), s"no semi join for EXISTS:\n$p")
    assert(p.contains("LeftAnti"), s"no anti join for NOT IN:\n$p")
  }

  test("sql_q13_cust_distribution: outer join survives the filtered ON, one custkey shuffle chain") {
    val p = plan("sql_q13_cust_distribution")
    // the ON-clause filter must NOT convert the outer join to inner —
    // zero-order customers are the query's point
    assert(p.contains("LeftOuter"), s"outer join lost (ON filter treated as WHERE?):\n$p")
    // the per-customer count groups on the join's own key, so no exchange
    // may sit between the join and the level-1 aggregate: at most the two
    // input shuffles (customer, orders) plus the tiny level-2 exchange on
    // c_count (histogram domain), never a re-shuffle of the joined fact
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <=3 hash exchanges (2 inputs + tiny histogram), got $exchanges:\n$p")
  }

  test("sql_q21_suppliers_waiting: EXISTS->LeftSemi, NOT EXISTS->LeftAnti, no per-row subqueries") {
    val p = plan("sql_q21_suppliers_waiting")
    assert(p.contains("LeftSemi"), s"EXISTS did not plan a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not plan an anti join:\n$p")
    // decorrelation must be total: no interpreted per-row subquery nodes
    assert(!p.contains("Subquery subquery") && !p.contains("InSubqueryExec"),
      s"correlated subquery executed per-row instead of decorrelated:\n$p")
    // dims ride broadcast; the fact-keyed joins share the orderkey exchange
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation dims not broadcast:\n$p")
  }

  test("sql_q2_min_cost: correlated scalar min decorrelates to aggregate-then-join") {
    val p = plan("sql_q2_min_cost")
    // the per-part min must run as ONE aggregate joined back on partkey,
    // never as a per-row subquery re-execution
    assert(!p.contains("Subquery subquery") && !p.contains("InSubqueryExec"),
      s"correlated min executed per-row:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
  }

  test("sql_q20_potential_promo: nested IN + correlated HAVING scalar plan as semi joins, no per-row subqueries") {
    val p = plan("sql_q20_potential_promo")
    assert(p.contains("LeftSemi"), s"IN did not plan a semi join:\n$p")
    assert(!p.contains("Subquery subquery") && !p.contains("InSubqueryExec"),
      s"correlated half-sum executed per-row:\n$p")
  }

  test("opt_cbo_stats: ANALYZE'd catalog relations expose exact row counts to the optimizer") {
    val (ot, ct) = graft.ops.OptOps.cboTables(spark, d)
    // rowCount/column stats surface on optimizedPlan.stats only under the
    // CBO flag — which is exactly the conf the key runs under
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      // the point of ANALYZE: the optimizer sees MEASURED rowCount, not a
      // size-in-bytes guess — this is what cost-based join decisions read
      val oStats = spark.table(ot).queryExecution.optimizedPlan.stats
      val cStats = spark.table(ct).queryExecution.optimizedPlan.stats
      assert(oStats.rowCount.isDefined, s"orders table has no rowCount stat: $oStats")
      assert(cStats.rowCount.isDefined, s"customer table has no rowCount stat: $cStats")
      assert(oStats.rowCount.get.toLong === Tables.orders(spark, d).count(),
        "ANALYZE rowCount drifted from the actual table")
      // per-column stats (NDV/min/max) back the selectivity model
      assert(oStats.attributeStats.nonEmpty || cStats.attributeStats.nonEmpty,
        "FOR ALL COLUMNS produced no column-level stats")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None    => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("opt_inmemory_cache: both consumers read the cached base, base agg planned once") {
    val p = plan("opt_inmemory_cache")
    val cachedScans = "InMemoryTableScan".r.findAllIn(p).length
    assert(cachedScans >= 2, s"expected both consumers on InMemoryTableScan:\n$p")
    // the base aggregation must not re-run OUTSIDE the cached relation: every
    // sum(o_totalprice) in the tree belongs to an InMemoryRelation's embedded
    // (cached) plan, so it appears at most once per cached-scan rendering
    val baseAggs = "partial_sum\\(o_totalprice".r.findAllIn(p).length
    assert(baseAggs <= cachedScans,
      s"a consumer re-planned the base aggregate outside the cache:\n$p")
  }

  test("src_partition_discovery: yr filter prunes partitions at the scan") {
    val p = plan("src_partition_discovery")
    assert(p.contains("PartitionFilters") && p.contains("yr"),
      s"yr predicate did not become a partition filter:\n$p")
    // the pruned column never appears as a post-scan Filter on data rows
    assert(!p.contains("PushedFilters: [IsNotNull(yr)"),
      s"yr treated as a data column, not a partition column:\n$p")
  }

  test("join_null_safe: EqualNullSafe plans a hash equi-join, not a cartesian residual") {
    val p = plan("join_null_safe")
    assert(!p.toLowerCase.contains("cartesian"),
      s"null-safe equality degraded to a cartesian product:\n$p")
  }

  test("opt_mv_rewrite: the aggregate is served from the MV; a Filter disqualifies") {
    import org.apache.spark.sql.functions._
    // (stagedPath, mvPath): since r19 the MV pipeline stages a finite-
    // guarded orders copy and defines the MV over THAT scan (a Filter in
    // the matched query would disqualify the rewrite, so the guard lives
    // in the staging write) — the pins below distinguish the staged fact
    // scan from the summary scan by path fragment
    val (stagedPath, _) = graft.ops.OptOps.mvSummary(spark, d)
    val saved = spark.conf.getOption("spark.graft.rewrite.mv")
    spark.conf.set("spark.graft.rewrite.mv", "true")
    try {
      val p = planOf(graft.ops.OptOps.mvQueryFrame(spark, d))
      assert(p.contains("orders_by_priority"),
        s"MV rewrite did not fire — plan still scans the staged fact:\n$p")
      assert(!p.contains("orders_staged"),
        s"staged fact scan survived alongside the MV:\n$p")
      // negative control: a filtered aggregate over the SAME registered
      // path MUST NOT be served from the MV (it has no detail rows) —
      // the strict matcher bails on Filter
      val filtered = spark.read.parquet(stagedPath)
        .filter(col("o_totalprice") > 1000)
        .groupBy("o_orderpriority")
        .agg(sum("o_totalprice").as("rev_raw"), count(lit(1)).as("n"))
      val pf = planOf(filtered)
      assert(pf.contains("orders_staged") && !pf.contains("orders_by_priority"),
        s"filtered aggregate was wrongly served from the MV:\n$pf")
      // and with the conf off, even the exact shape keeps the fact scan
      spark.conf.set("spark.graft.rewrite.mv", "false")
      val poff = planOf(graft.ops.OptOps.mvQueryFrame(spark, d))
      assert(poff.contains("orders_staged") && !poff.contains("orders_by_priority"),
        s"rewrite fired with its conf off:\n$poff")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.graft.rewrite.mv", v)
      case None    => spark.conf.unset("spark.graft.rewrite.mv")
    }
  }

  test("opt_agg_pushdown: COUNT/MIN/MAX answered from parquet footers") {
    val confs = Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = planOf(graft.ops.OptOps.aggPushFrame(spark, d))
      assert(p.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate not pushed to the parquet scan:\n$p")
      assert(p.contains("MIN(o_orderkey)") && p.contains("MAX(o_totalprice)"),
        s"min/max missing from the pushed list:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // conf off: the same frame plans a plain scan + aggregate
    val off = planOf(graft.ops.OptOps.aggPushFrame(spark, d))
    assert(!off.contains("PushedAggregation: [COUNT"),
      s"pushdown fired with its conf off:\n$off")
  }

  test("opt_agg_pushdown NaN contract: Spark-written NaN parquet makes the " +
       "pushed MIN/MAX fail LOUDLY (stats omitted by the writer), and the " +
       "scan fallback returns NaN — never a silent divergence") {
    // ADVICE r19: the key's oracle hard-codes parquet footer-stats NaN
    // semantics (writers omit NaN from min/max). This pins the three
    // observed behaviors on a NaN-carrying fixture so none can drift
    // unnoticed:
    //  1. parquet-mr (Spark's writer) drops a double column's min/max
    //     ENTIRELY when a row group contains NaN, and the pushed
    //     aggregate then throws the NAMED "No min/max found" error at
    //     read time — a loud failure, not a wrong answer;
    //  2. with pushdown off, Spark's real-scan max over the same rows is
    //     NaN (treated greatest) — the cross-engine divergence the
    //     oracle's FILTER NOT isnan note documents;
    //  3. the driver-gate fixtures are PYARROW-written, whose stats
    //     exclude NaN but are present — there the pushed answer equals
    //     the oracle's NaN-excluded min/max (that path is certified by
    //     the fuzz sweeps, which run opt_agg_pushdown green on the
    //     NaN-injected o_totalprice at both SFs).
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nan_push").toString
    Seq(1.0, Double.NaN, 3.5).toDF("v").repartition(1).write
      .mode("overwrite").parquet(dir)
    val confs = Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pushed = spark.read.parquet(dir)
        .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      val pp = planOf(pushed)
      assert(pp.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate not pushed on the NaN-carrying fixture:\n$pp")
      val err = intercept[org.apache.spark.SparkException] { pushed.head }
      val root = Iterator.iterate(err: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(root.contains("No min/max found"),
        s"pushed MIN/MAX over a stats-less NaN footer no longer fails with " +
        s"the named error — re-derive the oracle's NaN note. Got: $root")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // fallback semantics (pushdown off): Spark's max treats NaN as the
    // largest double — the divergence the oracle note documents
    val fb = spark.read.parquet(dir)
      .agg(max("v").as("mx")).head.getDouble(0)
    assert(fb.isNaN,
      s"scan-fallback max no longer returns NaN ($fb) — the opt_agg_pushdown " +
      "oracle's FILTER NOT isnan note needs re-derivation")
  }

  test("opt_empty_relation: the fact table is never scanned") {
    val p = plan("opt_empty_relation")
    assert(!p.contains("FileScan"),
      s"constant-false filter did not collapse the scan:\n$p")
    assert(p.contains("LocalTableScan") || p.contains("EmptyRelation"),
      s"no empty local relation in the plan:\n$p")
  }

  test("src_parquet_bloom: the IN probe is pushed to the parquet reader") {
    val p = plan("src_parquet_bloom")
    assert(p.contains("PushedFilters: [In(o_custkey"),
      s"IN probe not pushed — bloom row-group skipping can never fire:\n$p")
  }

  test("sql_exists_mark: disjunctive EXISTS plans an ExistenceJoin, not per-row subqueries") {
    val qe = SparkEntry.queries("sql_exists_mark")(spark, d).queryExecution
    assert(qe.optimizedPlan.toString.contains("ExistenceJoin"),
      s"EXISTS-under-OR did not rewrite to an ExistenceJoin:\n${qe.optimizedPlan}")
    // and the physical side is a hash equi-join on the customer key —
    // never a nested-loop re-execution of the subquery per row
    val p = qe.executedPlan.toString
    assert(!p.toLowerCase.contains("cartesian"),
      s"existence annotation degraded to a cartesian product:\n$p")
  }

  test("opt_nested_schema_pruning: ReadSchema prunes to the meta leaves — body never read") {
    val p = plan("opt_nested_schema_pruning")
    val rs = "ReadSchema: struct<([^\\n]*)".r.findFirstMatchIn(p)
      .getOrElse(fail(s"no ReadSchema in plan:\n$p")).group(1)
    assert(rs.contains("lang") && rs.contains("n_chars"),
      s"meta leaves missing from ReadSchema:\n$rs")
    assert(!rs.contains("body"),
      s"doc.body survived nested schema pruning — the scan reads the corpus:\n$rs")
  }
  test("llm_oov_rate: the vocab probe is a BroadcastHashJoin") {
    // the K-bounded vocab must broadcast — a shuffled join here would
    // re-shuffle the full token stream at corpus scale
    assert(plan("llm_oov_rate").contains("BroadcastHashJoin"))
  }

  test("llm_hard_negatives: label-inequality join broadcasts the candidates") {
    // the non-equi label test plans a BroadcastNestedLoopJoin over the
    // broadcast candidate set — the intended capped-query economics;
    // a Cartesian product (both sides shuffled) would be the regression
    val p = plan("llm_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("agg_chi_square / agg_association_rules: marginals and supports broadcast") {
    assert(plan("agg_chi_square").contains("BroadcastHashJoin"))
    val p = plan("agg_association_rules")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("agg_association_rules: pairs generate row-locally from basket arrays, no self-join") {
    // r21: the pair expansion is a basket-keyed collect_set aggregate +
    // row-local C(k,2) explode (Generate) — no join of any kind feeds the
    // pair counts; the only joins left are the broadcast support joins.
    val p = plan("agg_association_rules")
    assert(p.contains("collect_set"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("llm_pmi_terms: one term-grouped aggregate computes cb and cooc together") {
    // r21 fold: c_b and c_ab come out of a SINGLE groupBy(term) pass over
    // an anchor-flag LEFT join (the naive spelling aggregated the vocab
    // three times — cab, cb, and cb-again for c_a). Two HashAggregate
    // occurrences = one partial/final pair; a second term-grouped
    // aggregation would show as four.
    val df = SparkEntry.queries("llm_pmi_terms")(spark, d)
    val p = planOf(df)
    assert(p.contains("LeftOuter"), p.take(2000))
    // counted on the final plan's aggregate nodes, not on the plan
    // string, which could also print an adaptive initial plan
    val termAggs = nodesOf(df.queryExecution.executedPlan).count {
      case a: BaseAggregateExec => a.groupingExpressions.headOption.exists(_.name == "term")
      case _ => false
    }
    assert(termAggs >= 1 && termAggs <= 2,
      s"vocab aggregated ${termAggs / 2} times — the cb/cooc fold regressed:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("win_seasonal_decompose: seasonal frame joins back broadcast") {
    assert(plan("win_seasonal_decompose").contains("BroadcastHashJoin"))
  }

  test("r17 daily-grid stats: the pair join runs on aggregated grids, never raw rows") {
    // agg_mann_kendall / agg_theil_sen / agg_kendall_tau self-join the
    // calendar-bounded daily grid. Pin the scale property: every join
    // input aggregates BEFORE joining (HashAggregate below the join) and
    // no cartesian product sneaks in. The grid is built once per side —
    // the corpus scan never feeds a join directly.
    Seq("agg_mann_kendall", "agg_theil_sen", "agg_kendall_tau").foreach { k =>
      val p = plan(k)
      assert(!p.contains("CartesianProduct"), s"$k:\n${p.take(2000)}")
      assert(p.contains("HashAggregate"), s"$k:\n${p.take(2000)}")
      val lines = p.linesIterator.toIndexedSeq
      val joinIdx = lines.indexWhere(l => l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin") || l.contains("BroadcastHashJoin"))
      assert(joinIdx >= 0, s"$k has no join:\n${p.take(2000)}")
      // below the first (outermost) pair join there must be aggregation
      assert(lines.drop(joinIdx + 1).exists(_.contains("HashAggregate")),
        s"$k joins non-aggregated input:\n${p.take(3000)}")
    }
  }

  test("obs_profile: one scan feeds all columns — never a scan per column") {
    val p = plan("obs_profile")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n${p.take(3000)}")
  }

  test("llm_js_divergence: top-k support is TakeOrdered, not a global sort+window") {
    val p = plan("llm_js_divergence")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }
}
