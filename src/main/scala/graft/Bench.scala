package graft


/** Benchmark main. Prints the complete compact JSON record as the FIRST
  * stdout line AND a short BOUNDED (≤ ~1.3 KB: capped suspect/err lists,
  * r20 verdict #1) summary line as the LAST stdout line,
  * then writes the full, untruncated measurement record to BENCH_FULL.json.
  * Rationale (VERDICT r6 #2): the driver's bench capture keeps a bounded
  * window of stdout — r6's single ~3 KB line came back head-truncated and
  * unparseable (`parsed: null`). Whichever end of the stream survives now
  * contains a parseable record: head capture gets the full per-key line,
  * tail capture gets the short summary (with the watch keys inline) plus
  * the BENCH_FULL.json pointer.
  *
  * Measurement protocol (VERDICT r4 #1/#4, r6 #1, r7 #1/#2):
  *  - a WARMUP phase first builds every piece of per-JVM scaffolding the
  *    queries cache — streaming replay dirs + Derby (StreamOps.prewarm),
  *    the day-1 signature store, the ANN index store, the BPE store, the
  *    bucketed tables — and its cost is reported separately as `setup`;
  *  - INTERLEAVED SWEEPS (r7 #1): the full key set runs SWEEPS=3 times,
  *    each sweep in an independently re-shuffled order (seed+sweepIdx,
  *    seeds recorded), ONE repeat per key per sweep — instead of 3
  *    consecutive repeats per key. r5-r7 driver runs each had one box-load
  *    episode inflate a contiguous wall-clock stretch; with consecutive
  *    repeats that poisoned every repeat of the keys in the stretch, so
  *    the median itself was contaminated and each round needed manual
  *    adjudication. Interleaving bounds an episode's blast radius to ONE
  *    repeat of any key, so min-across-sweeps is load-robust by
  *    construction: the headline per-key value is the MIN across sweeps
  *    (a key's best sweep ran it on a quiet box); the per-key MEDIAN and
  *    all raw per-sweep times stay in BENCH_FULL.json for drift checks;
  *  - a DRIFT SENTINEL — one fixed cheap query (scan_parquet's plan,
  *    single shot) — is re-timed at each sweep boundary and after every
  *    15 keys within a sweep; its trace rides in the full record. A flat
  *    sentinel with slow keys = real regression; a sentinel that drifts
  *    with them = box noise (the adjudication instrument VERDICT r6 #1
  *    asked for);
  *  - SUSPECT MARKING (r7 #2): any sentinel shot > 3× the run's sentinel
  *    median marks the key segments adjacent to it (the keys between the
  *    previous shot and the next shot in that sweep) as suspect; the
  *    union rides in the record as `"suspect":[keys]` — empty on a clean
  *    run — so the driver record self-adjudicates without cross-round
  *    inference;
  *  - streaming keys report the MIN across sweeps after prewarm
  *    (steady-state; each sweep still replays every micro-batch through
  *    a fresh checkpoint);
  *  - RAW per-sweep times for every key are in BENCH_FULL.json. */
object Bench {
  private val Sweeps = 3
  private val SentinelEvery = 15
  /** Sentinel shot > SuspectFactor × run-median sentinel ⇒ adjacent key
    * segments are flagged. 3× clears normal jitter (r7 builder trace
    * spread 0.11-0.24 s ≈ 2.2× max/median) but catches the r7 driver
    * episode (0.118 → 0.580 ≈ 4.9×). */
  private val SuspectFactor = 3.0

  /** Committed sentinel ANCHORS (r19 verdict #5; per-SF per ADVICE r19):
    * quiet-box sentinel medians measured on the r19 builder box — the
    * sentinel's cost is mostly fixed scheduling+codegen overhead but the
    * sf0.1 scan is measurably heavier, and one sf0.1 constant mislabeled
    * quiet sf0.01 runs as loaded (tools/scalecheck.json r19). Keyed by
    * the SF-dir basename; unknown dirs fall back to the sf0.1 anchor.
    * HARDWARE-DEPENDENT: anchors are only meaningful on the measuring
    * box class (32-vCPU builder/driver boxes here); a new box class
    * needs a fresh quiet-box anchor run before its load_warning means
    * anything. The PREFLIGHT below re-times the sentinel 3× before
    * sweep 0; if even the MIN exceeds LoadWarnFactor × the anchor, the
    * box is loaded before the run starts and the record carries
    * `"load_warning":true`. `"load_warning_midrun"` (r19 verdict #5)
    * applies the same rule to the RUN's OWN sentinel median at the end,
    * catching load that arrives mid-run (the r19 driver record's 45
    * post-hoc-adjudicated suspects arrived exactly that way). */
  private val SentinelAnchors = Map(
    "sf0.1" -> 0.121, "sf0.01" -> 0.063, "sf0.001" -> 0.060)
  private val LoadWarnFactor = 2.0

  /** Keys whose raw repeats ride in the SHORT last line so a
    * tail-truncated capture alone can adjudicate environment vs
    * regression (~45 B per key; 13 keys keep the line comfortably under
    * the ~2 KB capture window). Union of the r4-r6 watch keys, plus the
    * r10 iterative-graph pair (the two most expensive new keys — their
    * raws let a tail-only capture tell load spikes from regressions in
    * the rounds that follow). */
  private val Watchlist = Seq(
    "limit_topn", "join_semi", "join_theta_range", "join_shuffle_hash",
    "join_skew_salted", "join_sortmerge", "llm_multimodal_join",
    "sort_multi", "src_csv_roundtrip",
    "opt_cosine_rewrite", "graph_pagerank", "graph_components",
    // r15: the two most expensive additions (LPA-backed modularity and
    // the basket pair join) — raws in the tail for the same reason
    "graph_modularity", "agg_association_rules")
    // r19: the stream_* keys left this list — the family is declared AT
    // FLOOR (scaffolding-bound) in BASELINE.md's streaming-floor section;
    // its drift adjudicates against the 39.7 s controlled floor there.

  private def fmt(x: Double): String = f"$x%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session()
    // the data dir's footers against the declared schemas, once, untimed
    Tables.checkSchemas(spark, sfDir)

    // ---- warmup / scaffold phase (timed separately, reported as `setup`)
    val s0 = System.nanoTime()
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case _: Throwable => () }
    def quietly(f: => Any): Unit = try { f; () } catch { case _: Throwable => () }
    quietly(graft.streaming.StreamOps.prewarm(spark, sfDir))
    quietly(graft.ops.GraphOps.pairStorePath(spark, sfDir))
    quietly(graft.ops.LlmOps.shingleStorePath(spark, sfDir))
    quietly(graft.ops.LlmOps.sigStorePath(spark, sfDir))
    quietly(graft.ops.LlmOps.annIndexPath(spark, sfDir))
    quietly(graft.ops.LlmOps.annIncPath(spark, sfDir))
    quietly(graft.ops.TextOps.bpeStorePath(spark, sfDir))
    quietly(graft.ops.JoinOps.bucketedTables(spark, sfDir))
    quietly(graft.ops.OptOps.partitionedLineitem(spark, sfDir))
    quietly(graft.ops.OptOps.zorderedOrders(spark, sfDir))
    quietly(graft.ops.OptOps.nestedDocuments(spark, sfDir))
    quietly(graft.ops.OptOps.mvSummary(spark, sfDir))
    quietly(graft.ops.ScanOps.bloomOrders(spark, sfDir))
    quietly(graft.ops.ScanOps.variantJsonDir(spark, sfDir))
    quietly(graft.ops.ScanOps.jdbcOrdersUrl(spark, sfDir))
    quietly(graft.ops.ScanOps.compactedOrders(spark, sfDir))
    quietly(graft.ops.ScanOps.binFilesDir(spark, sfDir))
    quietly(graft.ops.ScanOps.dynOverwriteDir(spark, sfDir))
    quietly(graft.ops.ScanOps.badCsvDir(spark, sfDir))
    quietly(graft.ops.WebOps.bm25IndexPath(spark, sfDir))
    quietly(graft.ops.WebOps.bm25IncPath(spark, sfDir))
    quietly(graft.ops.WebOps.posIndexPath(spark, sfDir))
    quietly(graft.ops.WebOps.streamIndexPath(spark, sfDir))
    quietly(graft.ops.WebOps.compactIndexPath(spark, sfDir))
    quietly(graft.ops.GraphOps.forestStorePath(spark, sfDir))
    quietly(graft.ops.OptOps.cboTables(spark, sfDir))
    val setupSec = (System.nanoTime() - s0) / 1e9

    // Drift sentinel: one fixed cheap plan, timed single-shot. Uses the
    // scan_parquet contract plan so the sentinel exercises scan + codegen +
    // scheduling, the fixed-cost path every key pays.
    val sentinelFn = SparkEntry.queries("scan_parquet")
    def sentinelShot(): Double = {
      val t0 = System.nanoTime()
      try { sentinelFn(spark, sfDir).count() } catch { case _: Throwable => () }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }

    // Ambient-load PREFLIGHT (r19 verdict #5): 3 sentinel shots before
    // sweep 0, judged against the committed quiet-box anchor for THIS SF.
    val sentinelAnchorSec = SentinelAnchors.getOrElse(
      new java.io.File(sfDir).getName, SentinelAnchors("sf0.1"))
    val preflight = Seq.fill(3)(sentinelShot())
    val loadWarning = preflight.min > LoadWarnFactor * sentinelAnchorSec
    if (loadWarning)
      System.err.println(
        s"[bench] LOAD WARNING: preflight sentinel min ${fmt(preflight.min)}s" +
        s" > ${LoadWarnFactor}x anchor ${sentinelAnchorSec}s — box is loaded;" +
        " per-key numbers in this record need load adjudication")

    // optional trailing args restrict the run (local iteration); the
    // driver always runs with none.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    val keys = selected.toSeq.sortBy(_._1)

    // Independently re-shuffled order per sweep (seeds recorded for replay).
    val seed = System.nanoTime()
    val sweepOrders = (0 until Sweeps).map { s =>
      new scala.util.Random(seed + s).shuffle(keys)
    }

    // (sweep, afterKeyIdx, sec) sentinel trace, and the key segments
    // between consecutive shots (a segment is suspect iff the shot at
    // either of its ends is hot — a load episode visible AT a shot
    // plausibly overlaps the keys on both sides of it).
    val sentinel = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    // (leftShotSec-index-in-sentinel, rightShot-index, keys in between)
    val segments = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Seq[String])]
    val raw = scala.collection.mutable.LinkedHashMap[String, Array[Double]]()
    keys.foreach { case (k, _) => raw(k) = Array.fill(Sweeps)(0.0) }
    // Per-key swallowed-throw marker (VERDICT r20 #6): a key that throws
    // still "benches" (fast — it did no work), which silently flatters the
    // record. Record the exception class per key so both records carry an
    // explicit error flag instead.
    val errKeys = scala.collection.mutable.LinkedHashMap[String, String]()

    for (s <- 0 until Sweeps) {
      val order = sweepOrders(s)
      var segStartKey = 0
      sentinel += ((s, 0, sentinelShot()))
      var lastShotIdx = sentinel.length - 1
      order.zipWithIndex.foreach { case ((name, fn), idx) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable => errKeys(name) = e.getClass.getSimpleName }
        val dt = (System.nanoTime() - t0) / 1e9
        // CacheManager matches by analyzed plan, so without this a later
        // sweep of any query that calls .cache() (minhash/simhash/
        // fingerprint) would silently reuse sweep 1's cached data and
        // report a hot-cache number as if it were cold.
        try spark.catalog.clearCache() catch { case _: Throwable => () }
        raw(name)(s) = dt
        // the closing shot below covers the final segment — skip the
        // in-loop shot when the sweep length is a SentinelEvery multiple,
        // or the trace would carry two entries at one index
        if ((idx + 1) % SentinelEvery == 0 && (idx + 1) < order.length) {
          sentinel += ((s, idx + 1, sentinelShot()))
          segments += ((lastShotIdx, sentinel.length - 1,
            order.slice(segStartKey, idx + 1).map(_._1)))
          lastShotIdx = sentinel.length - 1
          segStartKey = idx + 1
        }
      }
      sentinel += ((s, order.length, sentinelShot()))
      segments += ((lastShotIdx, sentinel.length - 1,
        order.slice(segStartKey, order.length).map(_._1)))
    }

    // Suspect adjudication: hot shot = > SuspectFactor × run median.
    val shotSecs = sentinel.map(_._3).toSeq.sorted
    val sentMedian = shotSecs(shotSecs.length / 2)
    // Mid-run load (r19 verdict #5): the preflight only sees the start;
    // the same 2x-anchor rule on the run's own sentinel median catches
    // load that arrives after sweep 0 begins.
    val loadWarningMidrun = sentMedian > LoadWarnFactor * sentinelAnchorSec
    if (loadWarningMidrun)
      System.err.println(
        s"[bench] LOAD WARNING (mid-run): sentinel median ${fmt(sentMedian)}s" +
        s" > ${LoadWarnFactor}x anchor ${sentinelAnchorSec}s — load arrived" +
        " during the run; per-key MINs may still be clean (interleaving)" +
        " but need adjudication against the sentinel trace")
    val hot = sentinel.zipWithIndex.collect {
      case ((_, _, sec), i) if sec > SuspectFactor * sentMedian => i
    }.toSet
    val suspect = segments.collect {
      case (l, r, segKeys) if hot(l) || hot(r) => segKeys
    }.flatten.toSet.toSeq.sorted

    val streamingKey = (k: String) => k.startsWith("stream_")
    // Headline per key: MIN across sweeps (load-robust — see scaladoc);
    // the median rides in the full record for drift comparison.
    val results: Seq[(String, Double, Double, Seq[Double])] = keys.map {
      case (name, _) =>
        val times = raw(name).toSeq
        val sorted = times.sorted
        (name, sorted.head, sorted(sorted.length / 2), times)
    }

    val qs = results.map { case (k, mn, _, _) => s"\"$k\":${fmt(mn)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val medJson = results.map { case (k, _, md, _) => s"\"$k\":${fmt(md)}" }
      .mkString("{", ",", "}")
    val rawAll = results.map { case (k, _, _, ts) =>
      s"\"$k\":[${ts.map(fmt).mkString(",")}]"
    }.mkString("{", ",", "}")
    val watch = results.filter(r => Watchlist.contains(r._1))
      .map { case (k, _, _, ts) => s"\"$k\":[${ts.map(fmt).mkString(",")}]" }
      .mkString("{", ",", "}")
    val sentinelJson = sentinel
      .map { case (sw, at, t) => s"""{"sweep":$sw,"after":$at,"sec":${fmt(t)}}""" }
      .mkString("[", ",", "]")
    val suspectJson = suspect.map(k => s"\"$k\"").mkString("[", ",", "]")
    val ordersJson = sweepOrders
      .map(o => o.map { case (k, _) => s"\"$k\"" }.mkString("[", ",", "]"))
      .mkString("[", ",", "]")

    val preflightJson = preflight.map(fmt).mkString("[", ",", "]")
    val errJson = errKeys
      .map { case (k, e) => s"\"$k\":\"$e\"" }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""cpus":$cpus,"setup_sec":${fmt(setupSec)},"load_warning":$loadWarning,""" +
      s""""load_warning_midrun":$loadWarningMidrun,""" +
      s""""preflight":$preflightJson,"sentinel_anchor":$sentinelAnchorSec,""" +
      s""""errors":$errJson,""" +
      s""""suspect":$suspectJson,"sentinel":$sentinelJson,"queries":$qs}"""

    // Full record → repo file (never truncated): compact fields + per-key
    // medians + raw per-sweep times + each sweep's execution order + seed.
    val full =
      compact.dropRight(1) +
      s""","protocol":{"sweeps":$Sweeps,"per_key":"min across $Sweeps interleaved""" +
      s""" independently-shuffled sweeps (1 repeat/key/sweep)","median_in":"median",""" +
      s""""suspect_rule":"sentinel shot > ${SuspectFactor}x run median flags adjacent segments"},""" +
      s""""order_seed":$seed,"orders":$ordersJson,"median":$medJson,"raw":$rawAll}"""
    // SPARK_GRAFT_BENCH_OUT redirects the full record (tools/scalecheck.py
    // runs Bench per-SF and must not clobber the round's committed record).
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/BENCH_FULL.json")
    quietly(java.nio.file.Files.write(
      java.nio.file.Paths.get(fullOut),
      (full + "\n").getBytes("UTF-8")))

    // FIRST stdout line: the complete compact record (head-capture wins).
    println(compact)
    // Stop Spark BEFORE the final summary so its shutdown log burst
    // cannot land after (and, under a merged-stream tail capture,
    // displace) the last line — the r13 BENCH artifact lost its parsed
    // summary to exactly that interleaving (ADVICE r13).
    spark.stop()
    // LAST stdout line: short summary — BOUNDED ≤ ~1.3 KB unconditionally
    // (VERDICT r20 #1: the r19/r20 driver runs were on loaded boxes, the
    // suspect list grew to ~150 keys ≈ 3+ KB, and the line's JSON head fell
    // out of the driver's tail-capture window → `parsed: null`, no perf
    // ground truth two rounds running). The last line now carries counts
    // plus a CAPPED head of the suspect/error lists; the full lists stay in
    // the first stdout line and BENCH_FULL.json.
    val sentMax = shotSecs.last
    val suspectCapped = suspect.take(10).map(k => s"\"$k\"")
      .mkString("[", ",", "]")
    val errCapped = errKeys.keys.take(5).map(k => s"\"$k\"")
      .mkString("[", ",", "]")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir",""" +
      s""""cpus":$cpus,"setup_sec":${fmt(setupSec)},"n_keys":${results.length},""" +
      s""""load_warning":$loadWarning,"load_warning_midrun":$loadWarningMidrun,""" +
      s""""sentinel_median":${fmt(sentMedian)},"sentinel_max":${fmt(sentMax)},""" +
      s""""n_suspect":${suspect.length},"suspect":$suspectCapped,""" +
      s""""n_err":${errKeys.size},"err":$errCapped,""" +
      s""""watch":$watch,"full":"BENCH_FULL.json"}""")
    System.out.flush()
  }
}
