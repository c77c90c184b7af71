package graft.ops

import graft.Tables
import graft.plans.CosineBandedJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §7.6 optimizer-rule demonstration keys. Each query is deliberately
  * written in its NAIVE all-pairs form — the banded plan exists only
  * because the optimizer rule rewrites it. That makes the correctness gate
  * a true end-to-end test of the rule:
  *
  *  - opt_hamming_rewrite's oracle is the plain all-pairs predicate. The
  *    rewrite is provably exact (pigeonhole), so if the rule fires the row
  *    matches; if the rule silently stops firing the query still returns
  *    the same (slow, nested-loop) answer — correctness never regresses,
  *    and RewriteSpec pins the plan shape so the speedup can't silently
  *    vanish either.
  *
  *  - opt_cosine_rewrite's oracle mirrors the banded DEFINITION (sign-bit
  *    16×4 candidates + exact confirm — deterministic; see
  *    BandedJoinRules for why no exact cosine banding exists). Here the
  *    gate cuts the other way: if the rule does NOT fire, Spark returns
  *    the exact all-pairs answer, the row mismatches, and the gate fails —
  *    so a green row proves the rule fired and produced exactly the
  *    declared banded semantics.
  */
object OptOps {
  type Q = (SparkSession, String) => DataFrame

  /** lineitem partitioned by ship year, written ONCE per (JVM, sfDir) under
    * a computeIfAbsent lock (same discipline as JoinOps.bucketedTables —
    * strictly sequential harness use, and concurrent first calls serialize
    * on the map entry). This is the fact-table layout opt_dpp_prune needs:
    * partition dirs are the unit Spark's dynamic partition pruning skips. */
  private val dppBase: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-dpp-")
    // recursive shutdown delete — deleteOnExit on a dir that gets populated
    // is a silent no-op (File.delete fails on non-empty), which would leak
    // a full lineitem copy per JVM run
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      try Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      catch { case _: Throwable => () } // tmp reaper is the backstop
    }))
    p.toString
  }
  private val dppFor = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The two conf-scoped keys below must materialize INTO a cache while
    * their confs are set (rewrites happen at action time), so the cache is
    * load-bearing — but left alone it outlives the call: a repeat
    * invocation would read the CacheManager instead of re-running the
    * (bloom/banded) join, and a long session accretes entries (ADVICE r5).
    * Swap discipline: each call unpersists the PREVIOUS call's cached
    * frame on entry, so at most one instance per key is ever resident and
    * every invocation re-executes its join. The swapped frame is ALSO
    * registered in GraftCaches (ADVICE r6): Graft.clearCaches() documents
    * itself as draining every engine cache, so the last frame per key must
    * not outlive it — the double-unpersist when both paths fire is a
    * harmless no-op (unpersist is idempotent). */
  private val lastCached = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def swapCached(key: String, df: DataFrame): DataFrame = {
    Option(lastCached.put(key, df)).foreach { old =>
      try old.unpersist() catch { case _: Throwable => () }
      graft.GraftCaches.untrack(old) // swap already released it — don't accrete
    }
    graft.GraftCaches.track(df)
  }
  /** opt_cbo_stats catalog fixture: orders + customer saved as catalog
    * tables (data under a shutdown-deleted tmp dir) and ANALYZE'd —
    * table + ALL-COLUMNS statistics — once per (JVM, sfDir). ANALYZE is
    * the production step that turns the catalog into a cost model; at
    * 100 TB it reads footer-level counts + one NDV sketch pass and is
    * amortized over every subsequent query on the table. */
  private lazy val cboBase: String = ScanOps.tmpDir("graft-cbo-")
  private val cboFor =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private[graft] def cboTables(s: SparkSession, d: String): (String, String) =
    cboFor.computeIfAbsent(d, _ => {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val (ot, ct) = (s"graft_cbo_orders_$tag", s"graft_cbo_customer_$tag")
      Tables.orders(s, d).write.mode("overwrite")
        .option("path", s"$cboBase/$tag/orders").saveAsTable(ot)
      Tables.customer(s, d).write.mode("overwrite")
        .option("path", s"$cboBase/$tag/customer").saveAsTable(ct)
      s.sql(s"ANALYZE TABLE $ot COMPUTE STATISTICS FOR ALL COLUMNS")
      s.sql(s"ANALYZE TABLE $ct COMPUTE STATISTICS FOR ALL COLUMNS")
      (ot, ct)
    })

  private[graft] def partitionedLineitem(s: SparkSession, d: String): String =
    dppFor.computeIfAbsent(d, _ => {
      val dir = s"$dppBase/${java.lang.Integer.toHexString(d.hashCode)}/lineitem_by_year"
      Tables.lineitem(s, d)
        .withColumn("yr", year(col("l_shipdate")))
        .write.mode("overwrite").partitionBy("yr").parquet(dir)
      dir
    })

  /** Morton (Z-order) interleave of the low 16 bits of two non-negative
    * dimensions: bit b of `x` lands at 2b, bit b of `y` at 2b+1. A fold of
    * shift/and/or column ops — one codegen'd integer expression, no UDF. */
  private[graft] def morton16(x: org.apache.spark.sql.Column,
                              y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).foldLeft(lit(0L)) { (acc, b) =>
      acc.bitwiseOR(shiftleft(x.bitwiseAND(lit(1L << b)), b))
         .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << b)), b + 1))
    }

  private val zorderFor = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A dimension column as a long for quantization: DATE → epoch days
    * (dates don't cast to numerics), anything else through cast("long"). */
  private def dimAsLong(df: DataFrame, c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType =>
        datediff(col(c), lit("1970-01-01").cast("date")).cast("long")
      case _ => col(c).cast("long")
    }

  /** Z-order clustering core (shared by [[zorderedOrders]] and
    * Layout.zorderBy): quantize both dims to 0..255 equal-width buckets
    * over their observed min/max (one driver-side agg row — the Delta
    * range-id trick; raw interleave degenerates when domains differ in
    * bit width), Morton-interleave, range-partition into `files` and sort
    * within each. Returns the frame in layout order with the helper z
    * column dropped — write it and every file's min/max envelope is tight
    * on both dims. */
  private[graft] def zorderByOf(df: DataFrame, dim1: String, dim2: String,
                                files: Int): DataFrame = {
    val (d1, d2) = (dimAsLong(df, dim1), dimAsLong(df, dim2))
    val mm = df.agg(min(d1), max(d1), min(d2), max(d2)).head()
    def q(c: org.apache.spark.sql.Column, lo: Long, hi: Long) = // bucket < 256 by construction
      floor((c - lit(lo)) * lit(256L) / lit(hi - lo + 1L)).cast("long")
    df.withColumn("__z", morton16(q(d1, mm.getLong(0), mm.getLong(1)),
                                  q(d2, mm.getLong(2), mm.getLong(3))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** orders laid out by Z-value over (o_custkey, o_orderdate): range
    * partitioned into 8 files, sorted within each, written ONCE per
    * (JVM, sfDir) — same litter/lifecycle discipline as
    * [[partitionedLineitem]]. Because the curve interleaves both dims,
    * every file's min/max envelope is tight on BOTH o_custkey and
    * o_orderdate — which is what parquet row-group stats pruning consumes.
    * A single-column sort would make one dim's envelopes tight and leave
    * the other spanning the full domain (OperatorSpec measures pruning via
    * the scan's numOutputRows).
    *
    * Two details that decide whether the stats actually prune:
    *  - EQUAL-WIDTH QUANTIZATION first: each dim maps to its 0..255 bucket
    *    over its observed [min, max] (one tiny driver-side agg — the same
    *    role as Delta's range-partition ids before its Z-order). Raw
    *    values interleave badly when the domains differ in bit width: with
    *    ~8 significant custkey bits against ~12 day bits, the day bits
    *    dominate the high interleave and the curve degenerates to a date
    *    sort (measured here: zero custkey pruning at sf0.001).
    *  - a MATERIALIZED DATE column (`o_odate`) for the time dim: measured
    *    on this Spark build, parquet row-group skipping fires for
    *    INT64/INT32/DATE stats but NOT for TIMESTAMP ones (timestamp
    *    stats are rebase-guarded in the reader), so a box filter on the
    *    raw timestamp scans every group. `o_odate >= D1 AND < D2` with
    *    midnight-boundary dates selects exactly the rows the timestamp
    *    predicate does (floor-to-date is monotonic), and DATE stats
    *    prune. TIMESTAMP_MICROS is still set for the copy's timestamp
    *    column — stats-correct output for any OTHER reader of the layout
    *    (conf scoped-and-restored around the write). */
  private[graft] def zorderedOrders(s: SparkSession, d: String): String =
    zorderFor.computeIfAbsent(d, _ => {
      val dir = s"$dppBase/${java.lang.Integer.toHexString(d.hashCode)}/orders_zorder"
      val o = Tables.orders(s, d)
        .withColumn("o_odate", col("o_orderdate").cast("date"))
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val saved = s.conf.getOption(tsKey)
      s.conf.set(tsKey, "TIMESTAMP_MICROS")
      try zorderByOf(o, "o_custkey", "o_odate", 8)
        .write.mode("overwrite").parquet(dir)
      finally saved match {
        case Some(v) => s.conf.set(tsKey, v)
        case None    => s.conf.unset(tsKey)
      }
      dir
    })

  private val nestedFor = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** documents re-laid-out as a NESTED table — `doc struct{meta struct{
    * lang, n_chars}, body}` — written once per (JVM, sfDir), the fixture
    * opt_nested_schema_pruning reads. Parquet stores each struct LEAF as
    * its own column chunk, so nesting costs nothing at the storage layer;
    * what the key proves is that Spark's reader prunes to the accessed
    * leaves only. */
  private[graft] def nestedDocuments(s: SparkSession, d: String): String =
    nestedFor.computeIfAbsent(d, _ => {
      val dir = s"$dppBase/${java.lang.Integer.toHexString(d.hashCode)}/documents_nested"
      Tables.documents(s, d)
        .select(col("doc_id"),
          struct(
            struct(col("lang"), col("n_chars")).as("meta"),
            col("text").as("body")).as("doc"))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  val queries: Map[String, Q] = graft.Contract.uniqueMap("OptOps.queries", Seq(
    // Nested schema pruning: the query touches only doc.meta.* of the
    // nested fixture, and Spark's SchemaPruning rule narrows the parquet
    // ReadSchema to those two LEAVES — doc.body (the dominant bytes) is
    // never decoded or read (PlanSpec pins body out of ReadSchema). At
    // 100 TB of nested event/doc records this is the difference between
    // reading metadata columns and reading the corpus: parquet stores
    // each struct leaf as its own column chunk, so pruning works exactly
    // as it does for top-level columns — IF the engine pushes it down.
    // Values are layout-independent: the oracle runs the same aggregate
    // over the FLAT documents table, so the gate also proves the nested
    // round-trip preserved content.
    "opt_nested_schema_pruning" -> ((s, d) => {
      s.read.parquet(nestedDocuments(s, d))
        .select(col("doc.meta.lang").as("lang"),
                col("doc.meta.n_chars").as("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),

    // Dynamic partition pruning: the fact scan (lineitem partitioned by
    // ship year) is pruned at RUNTIME by the years surviving the dim
    // side's filter — the dim subquery's result becomes a partition filter
    // on the fact scan (dynamicpruningexpression in the plan; pinned in
    // PlanSpec). At 100 TB this is the difference between scanning 7
    // years and scanning 1: the pruning happens before fact I/O, not
    // after. DPP is on by default; nothing here forces it beyond giving
    // Spark the canonical star shape (partitioned fact ⋈ filtered dim).
    "opt_dpp_prune" -> ((s, d) => {
      val fact = s.read.parquet(partitionedLineitem(s, d))
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
                col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(year(col("o_orderdate")).as("yr")).distinct()
      fact.join(dim, "yr")
        .groupBy("yr")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("yr")
    }),

    // Z-order data skipping: the query reads the Morton-laid-out orders
    // copy with a 2-dimensional predicate (customer band × one year).
    // Both predicates push to parquet (PushedFilters), and because the
    // layout clustered BOTH dims, row-group min/max stats kill most groups
    // before any I/O — multi-dim pruning that no single-column sort
    // provides. At 100 TB this is the table-layout decision that turns
    // "scan everything, filter later" into "read the few files whose
    // envelopes intersect the query box". Values are layout-independent —
    // the oracle runs the same aggregate over the ORIGINAL orders, so the
    // gate also proves the rewrite preserved content exactly.
    "opt_zorder" -> ((s, d) => {
      s.read.parquet(zorderedOrders(s, d))
        .filter(col("o_custkey").between(30, 90) &&
                col("o_odate") >= lit("1996-01-01").cast("date") &&
                col("o_odate") < lit("1997-01-01").cast("date"))
        .agg(count(lit(1)).as("n"),
             round(sum("o_totalprice"), 2).as("rev"),
             min("o_orderkey").as("min_key"),
             max("o_orderkey").as("max_key"))
    }),

    // Runtime bloom-filter join (Spark's InjectRuntimeFilter): the
    // selective predicate on orders builds a bloom filter that is pushed
    // into the lineitem side of the shuffle join as might_contain(), so
    // non-matching fact rows die at the scan instead of crossing the
    // shuffle — the generic-join cousin of DPP (works on NON-partition
    // keys). Confs are scoped and restored: broadcast is disabled to force
    // the shuffle join bloom targets, and the application-side threshold
    // drops to 0 because the heuristic's 10 GB floor would never trigger
    // at test scale (at 100 TB the defaults fire on their own). The result
    // materializes inside the conf scope (rewrites happen at action time).
    "opt_runtime_bloom_join" -> ((s, d) => {
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = bloomJoin(s, d)
        swapCached("opt_runtime_bloom_join", out)
        out.cache()
        out.count()
        out
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    // Exchange reuse: the per-order aggregate feeds BOTH the row stream
    // and its own global mean — two consumers of one shuffle. Catalyst's
    // ReuseExchange rule dedupes the identical Exchange subtrees, so the
    // lineitem scan + partial agg + shuffle runs ONCE and the second
    // consumer reads the shuffled blocks (ReusedExchange in the plan;
    // PlanSpec pins it). At 100 TB this is the difference between one and
    // two full corpus passes for every self-referencing query shape
    // ("rows above the average", snapshot-vs-aggregate audits) — and it
    // falls out of writing the query declaratively against ONE shared
    // frame, no manual .cache() needed. Threshold compares against the
    // 4dp-rounded doubled mean (strict >): both engines average the SAME
    // 2dp-rounded per-order revenues, so reassociation noise is ~1e-9
    // against a 1e-4 rounding grid.
    "opt_exchange_reuse" -> ((s, d) => {
      val per = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(round(sum("l_extendedprice"), 2).as("rev"))
      val stats = per.agg(avg("rev").as("mean"))
      per.join(broadcast(stats))
        .filter(col("rev") > round(col("mean") * 2, 4))
        .agg(count(lit(1)).as("n_above"),
             round(sum("rev"), 2).as("rev_above"),
             min("l_orderkey").as("min_key"))
    }),

    // Explicit MATERIALIZED REUSE (.cache()): one per-customer aggregate
    // consumed by TWO downstream readers (a distribution rollup and a
    // global total) — with the cache, the expensive base aggregation runs
    // ONCE and both consumers read InMemoryTableScan (PlanSpec pins two
    // cached scans and one base agg); without it, each consumer re-shuffles
    // the fact table. This is the deliberate-reuse lever for fan-out
    // pipelines, complementing opt_exchange_reuse's AUTOMATIC same-plan
    // exchange sharing (which cannot fire across differently-shaped
    // consumers like these). At 100 TB the same code switches to
    // MEMORY_AND_DISK or a checkpoint — the plan shape is identical.
    // The total runs in DECIMAL: summing 2dp doubles is order-sensitive
    // at cent boundaries, and the cross-engine gate needs exactness.
    "opt_inmemory_cache" -> ((s, d) => {
      val base = Tables.orders(s, d)
        // measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
        .filter(graft.Contract.finiteOrNull(col("o_totalprice")))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
      swapCached("opt_inmemory_cache", base)
      base.cache()
      val dist = base.groupBy("n").agg(count(lit(1)).as("n_cust"))
      val tot = base.agg(
        expr("CAST(round(sum(CAST(rev AS DECIMAL(18,2))), 2) AS DOUBLE)").as("total_rev"),
        count(lit(1)).as("n_all"))
      dist.crossJoin(broadcast(tot)).orderBy("n")
    }),

    // AQE skew-join handling: the fact side is keyed so ~90% of rows share
    // one derived key (least(l_orderkey % 50, 5) — keys 0..4 stay sparse,
    // key 5 absorbs the rest), the canonical hot-key join that strands a
    // single straggler task at scale. With broadcast disabled (forcing the
    // shuffle join AQE skew-splitting applies to) and test-scale
    // thresholds (the 256 MB defaults would need real data volumes; at
    // 100 TB they fire untouched), AQE's OptimizeSkewedJoin splits the
    // oversized partition into advisory-sized chunks and duplicates the
    // matching dim partition per chunk — runtime skew repair from shuffle
    // statistics, no salting rewrite of the query (join_skew_salted is the
    // MANUAL spelling of the same defense). The post-join aggregate is
    // global, so the split costs no extra shuffle and the rule fires
    // without forceApply. Result materializes inside the conf scope
    // (rewrites happen at action time); OperatorSpec pins `skewed` in the
    // executed plan.
    // Cost-based optimization from ANALYZE'd catalog statistics — the
    // lever that replaces guessed size estimates with measured ones
    // (row counts + per-column NDV/min/max), which is what decides
    // broadcast-vs-shuffle and join order when relations are views or
    // mid-plan aggregates Spark cannot size from files. The fixture
    // saves orders+customer as catalog tables ONCE per (JVM, sfDir) and
    // ANALYZEs them (stats live in the catalog — at 100 TB that is a
    // metadata operation amortized over every query on the table); the
    // key then runs a filtered join under spark.sql.cbo.enabled +
    // joinReorder. Statistics change the PLAN, never the result (the
    // oracle is the plain parquet join); PlanSpec pins that the
    // ANALYZE'd relations expose exact rowCount stats to the optimizer.
    "opt_cbo_stats" -> ((s, d) => {
      val (ot, ct) = cboTables(s, d)
      val confs = Seq(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = s.table(ot)
          .join(s.table(ct), col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment") === "BUILDING")
          // measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          .filter(graft.Contract.finiteOrNull(col("o_totalprice")))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
               expr("CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)")
                 .as("revenue"))
          .orderBy("c_nationkey")
        swapCached("opt_cbo_stats", out)
        out.cache()
        out.count()
        out
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    "opt_aqe_skew" -> ((s, d) => {
      val confs = Seq(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = skewJoinFrame(s, d)
        swapCached("opt_aqe_skew", out)
        out.cache()
        out.count()
        out
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    // Parquet AGGREGATE pushdown — the footer-statistics fast path:
    // un-grouped COUNT/MIN/MAX over a parquet table are already in every
    // row group's metadata, so with `spark.sql.parquet.aggregatePushdown`
    // on (+ the v2 reader), the scan answers from FOOTERS ONLY — zero
    // data pages read. At 100 TB that's the difference between a metadata
    // round-trip and a full corpus scan for "how many rows / what's the
    // key range" — the first two queries anyone runs on a new table.
    // Limits encoded: exact-stats types only (the NTZ timestamp column
    // does NOT push in this build — kept out of the query), no filters,
    // no DISTINCT. Conf-scoped (v1-source list narrowed to nothing inside
    // the scope only) + swapCached; PlanSpec pins PushedAggregation in
    // the v2 scan and its absence with the conf off.
    "opt_agg_pushdown" -> ((s, d) => {
      val confs = Seq(
        "spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> "")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = aggPushFrame(s, d)
        swapCached("opt_agg_pushdown", out)
        out.cache()
        out.count()
        out
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    // Empty-relation propagation: a constant-false predicate (the
    // templated-SQL reality — an empty IN-list, a pruned-to-nothing
    // partition filter, a feature-flag literal) constant-folds, prunes
    // the Filter, and PropagateEmptyRelation collapses the whole subtree
    // to an empty LocalRelation — the global aggregate then answers from
    // zero rows WITHOUT EVER TOUCHING THE FACT TABLE (PlanSpec pins: no
    // FileScan survives). At 100 TB this is the difference between a
    // no-op returning in milliseconds and a pointless corpus scan; the
    // key also pins the empty-input aggregate contract both engines
    // share — count() = 0, sum() = NULL, one output row.
    "opt_empty_relation" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(lit(1) === lit(0))
        .agg(count(lit(1)).as("n"),
             round(sum("o_totalprice"), 2).as("s"),
             max("o_orderdate").as("last_date"))),

    // MATERIALIZED-VIEW rewrite (rule + registry + strict matcher in
    // plans/MvRewrite.scala): the query below is written over the FACT
    // table; with `spark.graft.rewrite.mv` on, the optimizer substitutes
    // the registered KB-sized rollup and orders.parquet is never read —
    // the warehouse summary-serving pattern at its purest. Conf is
    // scoped + result materialized inside the scope (swapCached
    // discipline, see the header note); the oracle is the plain aggregate
    // over the fact, so a green row proves the substitution is
    // semantics-preserving, and PlanSpec proves it actually FIRED (scan
    // reads graft_mv, not orders.parquet — plus the Filter negative
    // control: a filtered aggregate must keep reading the fact).
    "opt_mv_rewrite" -> ((s, d) => {
      mvSummary(s, d)
      val saved = s.conf.getOption("spark.graft.rewrite.mv")
      s.conf.set("spark.graft.rewrite.mv", "true")
      try {
        val out = mvQueryFrame(s, d)
        swapCached("opt_mv_rewrite", out)
        out.cache()
        out.count()
        out
      } finally saved match {
        case Some(v) => s.conf.set("spark.graft.rewrite.mv", v)
        case None    => s.conf.unset("spark.graft.rewrite.mv")
      }
    }),

    // AQE partition COALESCING — the skew-split's mirror image: skew
    // splits partitions that are too big, coalesce merges the ones that
    // are too small. shuffle.partitions must be sized for the LARGEST
    // stage of a job (undersizing it spills), which leaves every smaller
    // stage — above all final aggregations, whose map-side combine
    // collapses the data — fanned out over hundreds of near-empty
    // reducers; at 1000 executors that is scheduler overhead and a
    // small-files storm at the sink. With coalescePartitions on, AQE
    // merges contiguous reducer ranges up to the advisory size at
    // RUNTIME, from the real map-output statistics (256 initial reducers
    // collapse to a handful here; parallelismFirst=false makes it honor
    // the advisory size rather than keep default parallelism). Purely a
    // physical re-bucketing: result is byte-identical, the oracle is the
    // plain agg, and PlanSpec pins AQEShuffleRead(coalesced) on the
    // shared uncached frame.
    "opt_aqe_coalesce" -> ((s, d) => {
      val confs = Seq(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val out = coalesceAggFrame(s, d)
        swapCached("opt_aqe_coalesce", out)
        out.cache()
        out.count()
        out
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    // Naive all-pairs SimHash pair query (same signatures as llm_simhash):
    // a cross join with only `doc_a < doc_b AND bit_count(xor) <= 4` — no
    // equi key anywhere in the source. HammingBandedJoin turns it into the
    // 5-band bucketed equi-join.
    "opt_hamming_rewrite" -> ((s, d) => {
      val sigs = LlmOps.simhashSigs(s, d, LlmOps.TextHash)
      val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      a.join(b, col("doc_a") < col("doc_b") &&
          expr("bit_count(sig_a ^ sig_b) <= 4"))
        .select(col("doc_a"), col("doc_b"),
                expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }),

    // Naive all-pairs cosine-threshold query. With the opt-in conf set,
    // CosineBandedJoin rewrites it to sign-bit banded candidates + exact
    // confirm. The conf is scoped tightly: the result is materialized into
    // the cache WHILE the conf is on (rewrites happen at optimization
    // time, i.e. at action time, not DataFrame-construction time), then
    // the conf is unset so no other query in the session — in particular
    // llm_neardup_embedding's exact all-pairs — can be rewritten.
    "opt_cosine_rewrite" -> ((s, d) => {
      // Declared 1000-vector subset: at τ=0.3 sign-bit banding only prunes
      // ~half of all pairs (see BandedJoinRules — the loose-threshold
      // regime is where LSH fundamentally can't win), so the uncapped demo
      // would spend bench time proving nothing extra about the RULE. The
      // rewrite fires identically on the subset. Wide scan: the rewritten
      // plan's probe side inherits the scan's parallelism, and a one-file
      // test-scale scan would run the whole banded probe in ONE task
      // (measured ~80% of this key's cost).
      val e = Tables.embeddingsWide(s, d).filter(col("vec_id") < 1000)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      s.conf.set(CosineBandedJoin.ConfKey, "true")
      try {
        val out = a.join(b, col("a_id") < col("b_id") &&
            call_function("graft_cosine", col("a_emb"), col("b_emb")) >= 0.3)
          .select(col("a_id"), col("b_id"),
            round(call_function("graft_cosine", col("a_emb"), col("b_emb")), 4).as("cos"))
          .orderBy("a_id", "b_id")
        swapCached("opt_cosine_rewrite", out)
        out.cache()
        out.count()
        out
      } finally s.conf.unset(CosineBandedJoin.ConfKey)
    })
  ))

  private val mvFor = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** The per-(JVM, sfDir) summary table opt_mv_rewrite serves from,
    * returned as (stagedOrdersPath, mvPath). The MV pipeline materializes
    * a finite-guarded STAGED copy of orders first (r19 fuzz: MvRewrite
    * rightly disqualifies on any Filter, so the measure-ingest guard
    * cannot live inside the matched query — it lives where production
    * puts it, in the bronze-to-silver staging write the MV is DEFINED
    * over), then writes the summary and registers it against the staged
    * path. MV, staged table and oracle restatement are snapshots of the
    * same immutable fixture, so the registrant's freshness contract holds
    * by construction. */
  private[graft] def mvSummary(s: SparkSession, d: String): (String, String) =
    mvFor.computeIfAbsent(d, _ => {
      val base = ScanOps.tmpDir("graft_mv")
      val staged = s"$base/orders_staged"
      val path = s"$base/orders_by_priority"
      Tables.orders(s, d)
        .filter(graft.Contract.finiteOrNull(col("o_totalprice")))
        .write.parquet(staged)
      s.read.parquet(staged)
        .groupBy("o_orderpriority")
        .agg(sum("o_totalprice").as("rev_raw"), count(lit(1)).as("n"))
        .write.parquet(path)
      graft.plans.MvRegistry.register(s,
        srcPathFragment = staged, groupCol = "o_orderpriority",
        valueCol = "o_totalprice", sumCol = "rev_raw", cntCol = "n",
        mvPath = path)
      (staged, path)
    })

  /** The uncached metadata-aggregate of opt_agg_pushdown — shared with
    * PlanSpec's PushedAggregation pin. Must be CONSTRUCTED while the
    * scoped confs are on (the v1/v2 source choice and the push decision
    * bind at scan building). */
  private[graft] def aggPushFrame(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .agg(count(lit(1)).as("n"),
           min("o_orderkey").as("min_key"),
           max("o_orderkey").as("max_key"),
           round(min("o_totalprice"), 2).as("min_price"),
           round(max("o_totalprice"), 2).as("max_price"))

  /** The uncached revenue-by-priority query of opt_mv_rewrite — shared
    * with PlanSpec (cache would hide the substituted scan). The aggregate
    * is written over the FACT table; with the rule on, the plan reads the
    * MV instead. The round stays OUTSIDE the aggregate (a plain Project
    * above it) so the Aggregate node carries exactly the registered
    * sum/count shapes. */
  private[graft] def mvQueryFrame(s: SparkSession, d: String): DataFrame =
    s.read.parquet(mvSummary(s, d)._1)
      .groupBy("o_orderpriority")
      .agg(sum("o_totalprice").as("rev_raw"), count(lit(1)).as("n"))
      .select(col("o_orderpriority"), round(col("rev_raw"), 2).as("rev"), col("n"))
      .orderBy("o_orderpriority")

  /** The uncached monthly-revenue agg of opt_aqe_coalesce — shared with
    * PlanSpec's coalesce pin (the query key caches its result, which would
    * hide the AQEShuffleRead behind an InMemoryTableScan). Money
    * accumulates in DECIMAL and rounds there before the DOUBLE cast
    * (cross-engine .xx5 ties). The group-key agg's map-side combine
    * collapses orders to ≤ yr×mo×priority rows, so its 256 initial
    * reducers carry a few KB each — the exact shape coalescing exists
    * for. */
  private[graft] def coalesceAggFrame(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      // measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
      .filter(graft.Contract.finiteOrNull(col("o_totalprice")))
      .groupBy(year(col("o_orderdate")).as("yr"),
               month(col("o_orderdate")).as("mo"),
               col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
             .cast("double").as("rev"))
      .orderBy("yr", "mo", "o_orderpriority")

  /** The uncached skewed join body of opt_aqe_skew — shared with
    * OperatorSpec's skew-split pin (the query key caches its result, so
    * its returned plan is an InMemoryTableScan that would hide the
    * AQEShuffleRead). The dim side is a 6-row generated frame (weights per
    * derived key); dim keys are exhaustive over least(_%50, 5)'s range so
    * the inner join drops nothing. */
  private[graft] def skewJoinFrame(s: SparkSession, d: String): DataFrame = {
    // The round-robin repartition is TEST-SCALE scaffolding with a real
    // lesson in it: AQE splits a skewed reducer partition along MAPPER
    // boundaries (PartialReducerPartitionSpec carries a map-index range),
    // so a hot partition fed by a single mapper is unsplittable — and a
    // one-file test scan is exactly one mapper. Spreading the fact over 16
    // map tasks emulates the many-mapper layout any production table has
    // (where this repartition would be pure waste — delete it at scale).
    val fact = Tables.lineitem(s, d)
      .repartition(16)
      .withColumn("k", least(pmod(col("l_orderkey"), lit(50L)), lit(5L)))
    val dim = s.range(0L, 6L).select(col("id").as("k"), (col("id") * 10L).as("grp"))
    fact.join(dim, "k")
      .agg(count(lit(1)).as("n"),
           round(sum(col("l_quantity") * (col("grp") + 1L)), 2).as("wsum"))
  }

  /** The uncached join body of opt_runtime_bloom_join — shared with
    * PlanSpec's might_contain pin (the query key caches its result, so its
    * returned plan is an InMemoryTableScan that would hide the filter). */
  private[graft] def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 450000.0)
    val l = Tables.lineitem(s, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("o_orderpriority")
  }

  val oracle: Map[String, String] = graft.Contract.uniqueMap("OptOps.oracle", Seq(
    // Footer stats must equal the scan-computed aggregate — plain SQL.
    // min/max FILTER NOT isnan mirrors the parquet STATS contract the
    // pushed-down aggregate answers from: writers omit NaN from footer
    // min/max (so ±Inf participates, NaN never does). A WHERE guard on
    // the Spark side would defeat the very pushdown this key proves.
    // NaN contract, measured r20 (ADVICE r19): pyarrow-written fixtures
    // (the gate's) carry NaN-excluding stats and the pushed answer
    // matches this oracle; parquet-mr-written NaN files omit the column's
    // min/max ENTIRELY and the pushed aggregate fails LOUDLY at read time
    // ("No min/max found" — pinned in PlanSpec), never silently; only a
    // deliberate pushdown-off fallback scan returns NaN for max.
    "opt_agg_pushdown" -> """
      SELECT count(*) AS n,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             round(min(o_totalprice) FILTER (WHERE NOT isnan(o_totalprice)), 2) AS min_price,
             round(max(o_totalprice) FILTER (WHERE NOT isnan(o_totalprice)), 2) AS max_price
      FROM orders""",

    // The empty-input aggregate contract: one row, count 0, NULL sums.
    "opt_empty_relation" -> """
      SELECT count(*) AS n, round(sum(o_totalprice), 2) AS s,
             max(o_orderdate) AS last_date
      FROM orders WHERE 1 = 0""",

    // The MV substitution must be invisible in the result — plain
    // aggregate over the fact is the oracle.
    // WHERE mirrors the staged-table ingest guard the MV is defined over.
    "opt_mv_rewrite" -> """
      SELECT o_orderpriority, round(sum(o_totalprice), 2) AS rev, count(*) AS n
      FROM orders
      WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority NULLS FIRST""",

    // Coalescing is physical re-bucketing only — plain agg is the oracle.
    // Spark's year()/month() return INT; DuckDB's return BIGINT — cast.
    "opt_aqe_coalesce" -> """
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
             CAST(month(o_orderdate) AS INTEGER) AS mo,
             o_orderpriority, count(*) AS n,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS rev
      FROM orders
      WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
      GROUP BY 1, 2, 3
      ORDER BY yr, mo, o_orderpriority NULLS FIRST""",

    // Layout is plumbing, not semantics: the same rollup over the FLAT
    // documents table — a mismatch would mean the nested re-layout lost
    // or corrupted rows.
    "opt_nested_schema_pruning" -> """
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      GROUP BY lang
      ORDER BY lang NULLS FIRST""",

    "opt_dpp_prune" -> """
      WITH dim AS (
        SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS yr FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'),
      fact AS (
        SELECT CAST(year(l_shipdate) AS INTEGER) AS yr, l_quantity FROM lineitem)
      SELECT fact.yr, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM fact JOIN dim ON fact.yr = dim.yr
      GROUP BY fact.yr
      ORDER BY fact.yr""",

    // Layout is plumbing, not semantics: the same box aggregate over the
    // ORIGINAL orders — a mismatch would mean the Z-order rewrite lost or
    // duplicated rows.
    "opt_zorder" -> """
      SELECT count(*) AS n, round(sum(o_totalprice), 2) AS rev,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      FROM orders
      WHERE o_custkey BETWEEN 30 AND 90
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'""",

    // Exchange reuse is plumbing, not semantics — the oracle just writes
    // the shared frame twice (DuckDB CSE's its own CTE).
    "opt_exchange_reuse" -> """
      WITH per AS (
        SELECT l_orderkey, round(sum(l_extendedprice), 2) AS rev
        FROM lineitem GROUP BY l_orderkey),
      s AS (SELECT avg(rev) AS mean FROM per)
      SELECT count(*) AS n_above, round(sum(rev), 2) AS rev_above,
             min(l_orderkey) AS min_key
      FROM per, s WHERE rev > round(mean * 2, 4)""",

    // Skew splitting is plumbing, not semantics — the weighted aggregate
    // over the derived key, written flat.
    "opt_inmemory_cache" -> """
      WITH base AS (
        SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        FROM orders
        WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
        GROUP BY 1),
      dist AS (SELECT n, count(*) AS n_cust FROM base GROUP BY n),
      tot AS (SELECT CAST(round(sum(CAST(rev AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_rev,
                     count(*) AS n_all
              FROM base)
      SELECT dist.n, dist.n_cust, tot.total_rev, tot.n_all
      FROM dist CROSS JOIN tot
      ORDER BY n""",

    // Statistics change the plan, never the result — the oracle is the
    // plain parquet join.
    "opt_cbo_stats" -> """
      SELECT c_nationkey, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND (o_totalprice IS NULL OR isfinite(o_totalprice))
      GROUP BY c_nationkey
      ORDER BY c_nationkey""",

    "opt_aqe_skew" -> """
      SELECT count(*) AS n,
             round(sum(l_quantity *
               (CASE WHEN l_orderkey % 50 < 5 THEN l_orderkey % 50 ELSE 5 END * 10 + 1)), 2) AS wsum
      FROM lineitem""",

    // Bloom injection is plumbing, not semantics — plain join+agg oracle.
    "opt_runtime_bloom_join" -> """
      SELECT o_orderpriority, count(*) AS n_items,
             round(sum(l_extendedprice), 2) AS rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 450000.0
      GROUP BY o_orderpriority
      -- NULLS FIRST = Spark's ASC default (r21 fuzz: fuzzed NULL
      -- o_orderpriority group must sort identically in both engines)
      ORDER BY o_orderpriority NULLS FIRST""",

    // Exact rewrite ⇒ the honest all-pairs predicate (same as llm_simhash).
    "opt_hamming_rewrite" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      hx AS (
        SELECT doc_id, list_transform(ws, t ->
          list_reduce(list_transform(range(1, 16), i ->
            CAST(CASE WHEN ascii(substr(md5(t), i, 1)) >= 97
                      THEN ascii(substr(md5(t), i, 1)) - 87
                      ELSE ascii(substr(md5(t), i, 1)) - 48 END AS BIGINT)),
            (a, b) -> a * 16 + b)) AS harr
        FROM toks),
      v AS (
        SELECT doc_id, list_transform(range(0, 60), b ->
          list_sum(list_transform(harr, x -> 2 * ((x >> b) & 1) - 1))) AS votes
        FROM hx),
      sigs AS (
        SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 60), b ->
            CASE WHEN votes[b + 1] > 0 THEN (CAST(1 AS BIGINT) << b)
                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
        FROM v)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 4
      ORDER BY doc_a, doc_b""",

    // Approximate rewrite ⇒ the oracle mirrors the banded DEFINITION:
    // candidates = pairs agreeing on >= 1 of 16 four-dim sign-bit bands,
    // then the exact double cosine confirm.
    "opt_cosine_rewrite" -> s"""
      ${graft.Contract.embIngestCteSql},
      s AS (
        SELECT vec_id, embedding,
               list_transform(embedding, x -> x > 0) AS signs
        FROM embeddings WHERE vec_id < 1000),
      cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               a.embedding AS ea, b.embedding AS eb
        FROM s a JOIN s b ON a.vec_id < b.vec_id
        WHERE len(list_filter(range(0, 16), j ->
              list_slice(a.signs, 4*j + 1, 4*j + 4)
                = list_slice(b.signs, 4*j + 1, 4*j + 4))) > 0),
      scored AS (
        SELECT a_id, b_id,
          list_sum(list_transform(list_zip(ea, eb),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / sqrt(list_sum(list_transform(ea, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               * list_sum(list_transform(eb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          AS cos
        FROM cand)
      SELECT a_id, b_id, round(cos, 4) AS cos
      FROM scored
      WHERE cos >= 0.3
      ORDER BY a_id, b_id"""
  ))
}
