package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

/** §2-I Structured Streaming surface (SURVEY.md:248–270).
  *
  * Every query replays `events` through a FILE-STREAM source: the static
  * table (after the ns→µs conversion of Tables.events — readStream hits the
  * same PARQUET_TYPE_ILLEGAL on the raw file) is range-cut by event time
  * into N parquet chunk files with strictly increasing modification times,
  * consumed with `maxFilesPerTrigger=1` under `Trigger.AvailableNow`, so
  * each chunk is one micro-batch and replay order is deterministic.
  *
  * Correctness strategy: a watermarked append-mode aggregation only emits a
  * window after the watermark passes its end — and the watermark produced by
  * the final data batch only takes effect in a SUBSEQUENT batch. Two
  * far-future sentinel "flush" files (filtered out of every result) are
  * appended so the last real windows are always finalized. With time-ordered
  * chunks nothing else is late, so the streaming result equals the batch
  * computation — which is exactly what the DuckDB oracles check.
  *
  * Scale notes (100 TB / real cluster):
  *  - state is keyed and incremental: windowed sums, dedup keys and
  *    per-user state all live in the state store, bounded by the watermark
  *    (eviction below it) — no unbounded driver-side collection;
  *  - the static side of stream⋈static is broadcast per micro-batch;
  *  - chunking/sentinels/memory-sink are REPLAY SCAFFOLDING for the oracle
  *    gate, not the production path: in production the same transforms bind
  *    to a Kafka/file source and a parquet/Kafka sink unchanged.
  *
  * Checkpoints: each query gets a fresh local dir from `withCheckpoint`,
  * deleted once the key's last query on it has terminated. Its files are
  * written by [[LocalCheckpointFileManager]] (declared in
  * `GraftExtensions`, set by `LocalSpark` and `Graft.register`): offset and
  * commit logs, stream metadata, state-store files and the file sink's
  * `_spark_metadata` log go through java.nio, with no `chmod` process per
  * file and no `.crc` twins. A checkpoint on HDFS or an object store is
  * written by Spark's own manager, unchanged.
  */
object StreamOps {
  type Q = (SparkSession, String) => DataFrame

  /** Replay granularity. 4 time-ordered chunks is enough to exercise real
    * multi-batch watermark progression; micro-batch count is the dominant
    * bench cost of every streaming key (round-3 measured ~97 s of a 145 s
    * bench in replay scaffolding at Chunks=8), so chunks are kept minimal
    * and keys that don't need per-file granularity additionally group
    * files per trigger (see filesPerTrigger args below). */
  private val Chunks = 4
  private val nameCounter = new AtomicInteger(0)

  /** Replay variants (cached per sfDir+variant within the JVM). */
  private case class Replay(srcDir: String, schema: StructType,
                            nBase: Long, nExtra: Long, mxUs: Long)
  private val cache = scala.collection.concurrent.TrieMap.empty[(String, String), Replay]

  /** The base chunk set is built ONCE per sfDir and file-copied into each
    * variant dir — the chunking Spark pipeline (scan, stats, range-cut,
    * partitioned write) is the expensive part of replay setup. */
  private case class BaseChunks(dir: File, mnUs: Long, mxUs: Long, nBase: Long)
  private val baseCache = scala.collection.concurrent.TrieMap.empty[String, BaseChunks]

  private def moveParts(fromDir: File, toDir: File, prefix: String, mtimeBase: Long): Int = {
    val parts = Option(fromDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, j) =>
      val dst = new File(toDir, f"$prefix-$j%03d.parquet")
      Files.move(f.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(mtimeBase + j * 2000L)
    }
    parts.length
  }

  /** Write `df` as the next replay chunk file(s) with mtime after all
    * previously written chunks (`seq` orders the replay). */
  private def writeChunk(df: DataFrame, srcDir: File, seq: Int): Unit = {
    val tmp = Files.createTempDirectory("graft-chunk-").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    moveParts(tmp, srcDir, f"c$seq%03d", 1700000000000L + seq * 120000L)
  }

  /** Materialize events into time-ordered chunks + variant extras.
    * variant: "base" | "flush" | "dup" (dup tail then no flush) |
    * "late" (late chunk then flush). */
  private def baseChunks(spark: SparkSession, sfDir: String): BaseChunks =
    baseCache.getOrElseUpdate(sfDir, {
      val ev = Tables.events(spark, sfDir)
        // streaming-bus ingest guard (r19 fuzz): a production stream
        // validates its measures AT the bus boundary, once — NaN/±Inf
        // `value` rows never enter the replay fixture (keyed sums would
        // otherwise emit engine-specific NaN bit patterns, and Derby
        // sinks reject IEEE specials outright); NULL value rows pass
        // through to each key's r18-pinned convention. Every stream
        // oracle restates the same predicate over raw events.
        .filter(graft.Contract.finiteOrNull(col("value")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val Array(mnUs, mxUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray // 2 scalars — replay setup only
      val span = mxUs - mnUs + 1
      val srcDir = Files.createTempDirectory("graft-stream-base-").toFile

      // Range-cut by event time: chunk i holds an equal slice of the span,
      // so chunk boundaries are non-overlapping and replay is time-ordered
      // (⇒ no unintended watermark drops).
      val chunked = ev.withColumn("chunk",
        least(lit(Chunks - 1),
          floor((unix_micros(col("ts")) - mnUs) * Chunks / span)).cast("int"))
      val tmpW = Files.createTempDirectory("graft-chunkw-").toFile
      chunked.write.mode("overwrite").partitionBy("chunk").parquet(tmpW.getAbsolutePath)
      (0 until Chunks).foreach { i =>
        val d = new File(tmpW, s"chunk=$i")
        if (d.exists()) moveParts(d, srcDir, f"c$i%03d", 1700000000000L + i * 120000L)
      }
      BaseChunks(srcDir, mnUs, mxUs, ev.count())
    })

  private def replay(spark: SparkSession, sfDir: String, variant: String): Replay =
    cache.getOrElseUpdate((sfDir, variant), {
      val base = baseChunks(spark, sfDir)
      val (mnUs, mxUs) = (base.mnUs, base.mxUs)
      val span = mxUs - mnUs + 1
      val srcDir =
        if (variant == "base") base.dir
        else if (variant == "flush") {
          // Merge the base chunks into ONE time-ordered file: the six
          // flush-replay keys must keep maxFilesPerTrigger=1 (each of
          // the 3 sentinels needs its OWN trailing batch — the executing
          // watermark is two batches stale), so the only way to cut their
          // dominant cost (micro-batch count) is fewer base files. Merging
          // is semantics-preserving: batch-equivalence holds under any
          // time-ordered grouping of the real data, and window
          // finalization is driven entirely by the sentinel batches.
          // 7 batches → 4 per flush key (was 5 through r15 — the r16
          // streaming diet finished the merge; state-commit overhead is
          // per-batch, so the watermark-driven minimum of 1 data + 3
          // sentinel batches is the floor and we now sit on it).
          // ("late"/"dup" merge to TWO files in the else branch below —
          // their extra chunk needs ≥2 real batches ahead of it.)
          val d = Files.createTempDirectory(s"graft-stream-$variant-").toFile
          val parts = Option(base.dir.listFiles()).getOrElse(Array.empty[File])
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          writeChunk(spark.read.parquet(parts.map(_.getAbsolutePath).toSeq: _*), d, 0)
          d
        } else {
          // "late"/"dup": pairwise-merge the base chunks to 2 files (r16
          // diet). These variants CANNOT merge to 1: their extra chunk's
          // drop/dedup semantics need the executing watermark (derived
          // from the data TWO batches earlier) to have advanced past real
          // time when the extra batch runs, so ≥2 real batches must
          // precede it. With 2 merged files the extra batch filters
          // against merged-chunk-0's max (≈ mid-span): the late rows are
          // calibrated ≥ span/2 + 1h older than final time — a full hour
          // older than even that mid-span watermark — and the dup tail's
          // first-occurrence keys (all ≥ mxUs − 90 min) are far inside
          // it, so both variants' verdicts are unchanged.
          val d = Files.createTempDirectory(s"graft-stream-$variant-").toFile
          val parts = Option(base.dir.listFiles()).getOrElse(Array.empty[File])
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          parts.grouped((parts.length + 1) / 2).zipWithIndex.foreach {
            case (grp, i) =>
              writeChunk(spark.read.parquet(grp.map(_.getAbsolutePath).toSeq: _*), d, i)
          }
          d
        }
      lazy val ev = Tables.events(spark, sfDir)
        // same bus-boundary measure guard as baseChunks (r19 fuzz): the
        // extra late/dup/asof chunks must draw from the SAME guarded feed
        .filter(graft.Contract.finiteOrNull(col("value")))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")

      var nExtra = 0L
      val mxTs = expr(s"timestamp_micros(${mxUs}L)")
      variant match {
        case "dup" =>
          // Re-emit the most recent ~90 minutes of events: duplicates whose
          // keys are still inside a >90-min watermark ⇒ all must be dropped.
          val tail = ev.filter(col("ts") >= mxTs - expr("INTERVAL 90 MINUTES"))
          nExtra = tail.count()
          writeChunk(tail, srcDir, Chunks)
        case "late" =>
          // Inject genuinely late rows. Measured Spark behavior: the late-row
          // filter of micro-batch N uses the watermark derived from batch
          // N-2's max event time (one batch staler than the progress log
          // reports), so "older than the final watermark" is NOT enough —
          // the rows must be older than the SECOND-to-last batch's max minus
          // the delay. One chunk span + 1h of margin guarantees that.
          val marginUs = 2 * (span / Chunks) + 3600L * 1000000L
          val lateRows = ev.filter(
            unix_micros(col("ts")) <= mxUs - marginUs && col("event_id") % 11 === 0)
          nExtra = lateRows.count()
          writeChunk(lateRows, srcDir, Chunks)
        case _ => ()
      }
      if (variant != "base" && variant != "dup") {
        // Three flush sentinels: measured on Spark 4.1, the watermark a
        // batch EXECUTES with (filtering + state eviction) derives from the
        // data of two batches earlier — one batch staler than the progress
        // log's planning watermark. Three far-future files guarantee the
        // last real windows are evicted+emitted even when no trailing empty
        // micro-batch runs.
        import spark.implicits._
        Seq(30, 60, 90).zipWithIndex.foreach { case (days, k) =>
          val sentinel = Seq((-1L, new java.sql.Timestamp((mxUs / 1000L) + days * 86400000L),
                             -1L, "__flush__", 0.0, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          writeChunk(sentinel, srcDir, Chunks + 1 + k)
        }
      }
      val schema = spark.read.parquet(srcDir.getAbsolutePath).schema
      Replay(srcDir.getAbsolutePath, schema, base.nBase, nExtra, mxUs)
    })

  /** Pre-builds every replay variant dir (the chunking pipeline, extra
    * chunks, sentinel files) and bootstraps the embedded Derby database, so
    * that streaming keys timed AFTER this call measure micro-batch
    * transforms + state management rather than first-touch scaffold cost
    * (VERDICT r4 #4). Idempotent: every piece lands in a per-JVM cache that
    * the queries consult (`cache`/`baseCache`/`derbyUrl`), so prewarmed
    * runs skip straight to the streaming query. */
  /** Two disjoint time-interleaved source dirs (even/odd base chunks), each
    * with its OWN flush sentinels — scaffolding for stream_union_sources.
    * Each source must carry sentinels separately: the union's global
    * watermark is the MIN across sources, so a sentinel in only one source
    * would leave the other source's watermark at real-data time and the
    * final windows unevicted. */
  private val unionCache = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def unionDirs(spark: SparkSession, sfDir: String): (String, String) =
    unionCache.getOrElseUpdate(sfDir, {
      val base = baseChunks(spark, sfDir)
      val dirs = Array(Files.createTempDirectory("graft-stream-unionA-").toFile,
                       Files.createTempDirectory("graft-stream-unionB-").toFile)
      val parts = Option(base.dir.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      // Each source's alternating base chunks merge into ONE file (r16
      // diet, same argument as the flush merge: batch-equivalence holds
      // under any time-ordered grouping; the per-source sentinels below
      // stay one-per-batch and drive all finalization). Union batches =
      // max(files per source) = 4, down from 7.
      dirs.zipWithIndex.foreach { case (dir, side) =>
        val grp = parts.zipWithIndex.collect { case (f, i) if i % 2 == side => f }
        if (grp.nonEmpty)
          writeChunk(spark.read.parquet(grp.map(_.getAbsolutePath).toSeq: _*), dir, 0)
      }
      import spark.implicits._
      dirs.foreach { dir =>
        Seq(30, 60, 90).zipWithIndex.foreach { case (days, k) =>
          val sentinel = Seq((-1L, new java.sql.Timestamp((base.mxUs / 1000L) + days * 86400000L),
                             -1L, "__flush__", 0.0, "{}"))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          writeChunk(sentinel, dir, Chunks + 1 + k)
        }
      }
      (dirs(0).getAbsolutePath, dirs(1).getAbsolutePath)
    })

  def prewarm(spark: SparkSession, sfDir: String): Unit = {
    Seq("base", "flush", "dup", "late").foreach(v => replay(spark, sfDir, v))
    unionDirs(spark, sfDir)
    busTopic(spark, sfDir)
    busTopicPartitioned(spark, sfDir)
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    conn.close()
    warmStreamingInfra(spark)
  }

  /** One throwaway MICRO stream-stream outer join (3 rows) run during
    * setup: initializes the per-JVM streaming machinery — StreamExecution,
    * FileStreamSource listing/log, the symmetric-hash-join state store
    * provider, streaming codegen paths — whose cold-start otherwise lands
    * inside the FIRST measured sweep of whichever stream key runs first
    * (observed as stream_stream_outer's ~+30% first-repeat and its r13
    * run-to-run swing; VERDICT r13 #7). Data is synthetic and tiny, so
    * nothing key-specific (source dirs, caches, state) is warmed — only
    * the shared JVM infrastructure, which is exactly what setup is for. */
  private def warmStreamingInfra(spark: SparkSession): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warm-ss-").toFile
    dir.deleteOnExit()
    val t0 = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2000-01-02 00:00:00")
    Seq((1L, t0, 1L, "signup"), (2L, t0, 1L, "purchase"), (3L, t1, 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    val schema = spark.read.parquet(dir.getAbsolutePath).schema
    def side(t: String, p: String) = spark.readStream.schema(schema)
      .parquet(dir.getAbsolutePath)
      .filter(col("event_type") === t)
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
              col("ts").as(s"${p}_ts"))
      .withWatermark(s"${p}_ts", "1 minute")
    val name = s"graft_warm_ss_${nameCounter.incrementAndGet()}"
    withCheckpoint("graft-warm-ckpt-") { ckpt =>
      side("purchase", "p").join(side("signup", "s"),
          col("p_user") === col("s_user") && col("s_ts") <= col("p_ts"),
          "left_outer")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** Publish the events table to the in-process bus ONCE per (JVM, sfDir):
    * 6 event-time-ordered batches — the graft-bus replay twin of the file
    * chunk dirs. Collecting to the driver is inherent to an in-process
    * bus (rows originate outside the executors, as with MemoryStream /
    * the socket source); size = the events table, replay scaffolding only. */
  // computeIfAbsent for publish exclusivity (ADVICE r6): TrieMap's
  // getOrElseUpdate evaluates the thunk OUTSIDE its lock, so concurrent
  // first calls could publish twice — and the second publish clears the
  // topic's sink-epoch log mid-flight. Same discipline as StoreDir.
  private val busCache = new java.util.concurrent.ConcurrentHashMap[String, String]
  private[graft] def busTopic(s: SparkSession, d: String): String =
    busCache.computeIfAbsent(d, _ => {
      val topic = s"events_${java.lang.Integer.toHexString(d.hashCode)}"
      graft.sources.BusRegistry.publish(topic,
        Tables.events(s, d)
          // same bus-boundary measure guard as baseChunks (r19 fuzz)
          .filter(graft.Contract.finiteOrNull(col("value")))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .orderBy("ts", "event_id"),
        nBatches = 6)
      topic
    })

  /** The PARTITIONED twin of [[busTopic]] (VERDICT r8 #6): the same events
    * published once per (JVM, sfDir) as a 3-partition topic — rows dealt
    * round-robin across three independent batch logs, 4 batches each, so
    * the source's per-partition offset merge carries real traffic. */
  private val busPartCache = new java.util.concurrent.ConcurrentHashMap[String, String]
  private[graft] def busTopicPartitioned(s: SparkSession, d: String): String =
    busPartCache.computeIfAbsent(d, _ => {
      val topic = s"events_part_${java.lang.Integer.toHexString(d.hashCode)}"
      graft.sources.BusRegistry.publishPartitioned(topic,
        Tables.events(s, d)
          // same bus-boundary measure guard as baseChunks (r19 fuzz)
          .filter(graft.Contract.finiteOrNull(col("value")))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .orderBy("ts", "event_id"),
        nParts = 3, nBatches = 4)
      topic
    })

  /** Runs `body` with a fresh checkpoint dir (`prefix` plus a random
    * suffix under `java.io.tmpdir`) and deletes the dir when `body` returns
    * or throws. `body` starts and awaits every query of that checkpoint;
    * the result lives in the memory sink, a sink dir or a JDBC table, never
    * in the checkpoint. */
  private def withCheckpoint[T](prefix: String = "graft-ckpt-")(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally LocalCheckpointFileManager.deleteTree(dir)
  }

  /** Builds the replay file source, starts whatever query `start`
    * assembles and waits for it — the scaffolding shared by the
    * memory-sink runner and the file/JDBC sink keys.
    *
    * State-store partitioning: each stateful operator creates
    * `spark.sql.shuffle.partitions` state partitions PER MICRO-BATCH; with
    * the batch bench config of 32, that is dozens of tiny state tasks of
    * pure overhead at test scale. The replay pins 4 state partitions for
    * the duration of the stream (restored after; 8 through r15 — at the
    * r16 four-batch replay floor the per-batch state-commit IO is the
    * dominant term, and halving the store count measured −10–30 % per
    * streaming key with all equivalence gates green). On a real cluster
    * this knob is sized to executor count, and is fixed at the query's
    * FIRST start (it persists in the checkpoint).
    *
    * `filesPerTrigger` tunes micro-batch count per key. Keys whose
    * correctness rests on WATERMARK-FINALIZED emission (append-mode aggs on
    * the flush replay) must keep 1: the watermark a batch executes with
    * derives from the data two batches earlier, so the three flush
    * sentinels must land in three separate trailing batches. Keys without
    * that constraint (no watermark, or output emitted as rows arrive)
    * group files to cut scaffolding cost — semantics are batch-equivalent
    * under any grouping. */
  private def runReplay(spark: SparkSession, rep: Replay, filesPerTrigger: Int)(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val src = spark.readStream
      .schema(rep.schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(rep.srcDir)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", 2)
    try start(src).awaitTermination()
    finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  private def runStream(spark: SparkSession, rep: Replay, outputMode: String,
                        filesPerTrigger: Int = 1)(
      build: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    withCheckpoint() { ckpt =>
      runReplay(spark, rep, filesPerTrigger) { src =>
        build(src).writeStream
          .format("memory").queryName(name)
          .outputMode(outputMode)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
      }
    }
    spark.table(name)
  }

  /** [[runStream]] for queries that CANNOT run under Trigger.AvailableNow:
    * a transformWithState operator in TimeMode.ProcessingTime reports
    * shouldRunAnotherBatch = true unconditionally (processing-time
    * timers/TTL may always fire later — verified against this build's
    * TransformWithStateExecBase bytecode and reproduced as an unbounded
    * no-data-batch loop), so AvailableNow never reaches "done" — and the
    * perpetual no-data batches also keep processAllAvailable's
    * caught-up signal from ever firing. The termination condition is
    * therefore counted explicitly: a listener accumulates numInputRows
    * across progress events and the query is stopped once every replay
    * row has been processed. On a production cluster this query shape
    * simply runs forever (that is what processing-time timers/TTL are
    * for); bounded-replay termination is oracle scaffolding only. */
  private def runStreamCaughtUp(spark: SparkSession, rep: Replay, outputMode: String,
                                expectedRows: Long, filesPerTrigger: Int = 1)(
      build: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val src = spark.readStream
      .schema(rep.schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(rep.srcDir)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", 2)
    val seen = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == name) seen.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try withCheckpoint() { ckpt =>
      val q = build(src).writeStream
        .format("memory").queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .start()
      try {
        val deadlineMs = System.currentTimeMillis() + 600000L
        while (seen.get() < expectedRows && q.isActive) {
          require(System.currentTimeMillis() < deadlineMs,
            s"stream '$name' processed ${seen.get()}/$expectedRows rows in 600s")
          Thread.sleep(50)
        }
      } finally q.stop()
      q.awaitTermination()
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    spark.table(name)
  }

  /** The tumbling-window aggregation both SINK keys stream — their shared
    * oracle is the same tumbling SQL, so the transform must stay shared
    * too (a divergence here would break one key's contract silently). */
  private def windowAgg(src: DataFrame): DataFrame =
    src.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sv"))

  /** Read-back normalization shared by the sink keys: drop sentinels,
    * round, impose the oracle's total order. */
  private def sinkResult(df: DataFrame): DataFrame =
    df.filter(!(col("event_type") <=> "__flush__"))
      .select(col("window_start"), col("event_type"),
              col("n"), round(col("sv"), 2).as("sum_value"))
      .orderBy("window_start", "event_type")

  /** transformWithState requires the RocksDB state store — pinned for the
    * wrapped query's lifetime and restored after (the provider is fixed at
    * first query start). Shared by all four state-v2 keys. */
  private def withRocksDB[T](s: SparkSession)(body: => T): T = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => s.conf.set(provKey, v)
      case None => s.conf.unset(provKey)
    }
  }

  // ---- stateful-count plumbing (typed API) ----
  case class Ev(user_id: Long, value: Double)
  case class CountState(n: Long, sum: Double)
  case class UserAgg(user_id: Long, n: Long, sum: Double)

  private def statefulCount(uid: Long, rows: Iterator[Ev],
                            st: GroupState[CountState]): UserAgg = {
    var s = st.getOption.getOrElse(CountState(0L, 0.0))
    rows.foreach(e => s = CountState(s.n + 1, s.sum + e.value))
    st.update(s)
    UserAgg(uid, s.n, s.sum)
  }

  /** Same running aggregate on Spark 4's transformWithState API (the
    * successor to mapGroupsWithState): typed ValueState in the RocksDB
    * state store, explicit per-batch emission. */
  class RunningCountProcessor extends StatefulProcessor[Long, Ev, UserAgg] {
    @transient private var st: ValueState[CountState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CountState](
        "agg", Encoders.product[CountState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[UserAgg] = {
      var s = Option(st.get()).getOrElse(CountState(0L, 0.0))
      rows.foreach(e => s = CountState(s.n + 1, s.sum + e.value))
      st.update(s)
      Iterator.single(UserAgg(key, s.n, s.sum))
    }
  }

  // ---- event-time-timer session plumbing (state API v2) ----
  case class SessEv(user_id: Long, tus: Long)
  case class Sess(startUs: Long, lastUs: Long, n: Long)
  case class SessOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** 30-minute inactivity gap — shared with stream_session and its oracle. */
  private[streaming] val SessionGapUs = 30L * 60L * 1000000L

  /** Per-user session detection via EVENT-TIME TIMERS — the timer/TTL half
    * of the state-v2 API stream_stateful_tws leaves unexercised (VERDICT
    * r11 #5), and the production pattern session_window compiles away: the
    * OPEN session lives in a ValueState, a timer at last-event + gap closes
    * it when the watermark proves no extension can arrive, and sessions
    * that demonstrably closed inside a batch (next event ≥ gap later) emit
    * inline without waiting for a timer.
    *
    * Timer discipline: at most one live timer per key — each batch deletes
    * the previous registration before arming last + gap. Firing cannot
    * split a session: a continuation event at ts2 (ts2 − last < gap)
    * arrives in a batch whose executing watermark is ≤ maxTs two
    * time-ordered chunks earlier − delay < ts2 ≤ last + gap, so the timer
    * for an extendable session is always re-armed before it can fire. The
    * within-batch sort is per-(key, batch) — bounded by a user's events per
    * micro-batch, the same order guarantee mapGroupsWithState users
    * hand-roll; state is one open session per user, O(users) total,
    * timer-cleared on close (no watermark-bounded growth like the window
    * operator's).
    *
    * TTL is deliberately ABSENT here: state TTL is wall-clock
    * (TimeMode.ProcessingTime only — Spark raises
    * STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL in event-time
    * mode; StreamingSpec pins that), so the TTL half of the API lives in
    * [[TtlCountProcessor]] / stream_state_ttl. */
  class SessionTimerProcessor extends StatefulProcessor[Long, SessEv, SessOut] {
    @transient private var st: ValueState[Sess] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Sess](
        "open_session", Encoders.product[Sess], TTLConfig.NONE)

    /** Ceil-to-ms so the timer never fires before the session's true
      * event-time expiry. */
    private def timerMs(c: Sess): Long =
      (c.lastUs + SessionGapUs + 999L) / 1000L

    private def close(key: Long, c: Sess): SessOut =
      SessOut(key, c.startUs, c.lastUs + SessionGapUs, c.n)

    override def handleInputRows(key: Long, rows: Iterator[SessEv],
                                 tv: TimerValues): Iterator[SessOut] = {
      val evs = rows.toArray.sortBy(_.tus)
      var cur = Option(st.get())
      cur.foreach(c => getHandle.deleteTimer(timerMs(c)))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
      evs.foreach { e =>
        cur match {
          case Some(c) if e.tus - c.lastUs < SessionGapUs =>
            cur = Some(Sess(c.startUs, e.tus, c.n + 1))
          case Some(c) =>
            out += close(key, c)
            cur = Some(Sess(e.tus, e.tus, 1L))
          case None =>
            cur = Some(Sess(e.tus, e.tus, 1L))
        }
      }
      cur.foreach { c => st.update(c); getHandle.registerTimer(timerMs(c)) }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessOut] = {
      val c = st.get()
      // stale-timer guard: only the CURRENT session's registration closes it
      if (c != null && timerMs(c) == info.getExpiryTimeInMs) {
        st.clear()
        Iterator.single(close(key, c))
      } else Iterator.empty
    }
  }

  /** The state-TTL half of the API: the RunningCountProcessor shape with a
    * wall-clock retention bound on its ValueState. TTL is the production
    * lever that keeps per-key state from outliving its usefulness when keys
    * churn (a user never seen again still vacates the store) — orthogonal
    * to watermark eviction, which only bounds TIME-INDEXED state. The
    * contract key runs with a 1-hour TTL: semantics stay exactly the batch
    * GROUP BY (nothing expires inside a seconds-long replay — which is what
    * makes the key oracle-gateable), while every write exercises the TTL
    * encoding + min-expiry bookkeeping in the RocksDB store. StreamingSpec
    * drives a millisecond-TTL instance through spaced batches to pin real
    * expiry (state resets between batches).
    *
    * `sleepMs` exists for that spec: a per-batch pause so batch N+1's
    * timestamp provably exceeds batch N's expiry. The contract key passes 0. */
  class TtlCountProcessor(ttlMs: Long, sleepMs: Long = 0L)
      extends StatefulProcessor[Long, Ev, UserAgg] {
    @transient private var st: ValueState[CountState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CountState](
        "agg", Encoders.product[CountState],
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 tv: TimerValues): Iterator[UserAgg] = {
      if (sleepMs > 0) Thread.sleep(sleepMs)
      var s = Option(st.get()).getOrElse(CountState(0L, 0.0))
      rows.foreach(e => s = CountState(s.n + 1, s.sum + e.value))
      st.update(s)
      Iterator.single(UserAgg(key, s.n, s.sum))
    }
  }

  // ---- CDC-apply plumbing (state API v2) ----
  case class CdcEv(user_id: Long, tus: Long, event_id: Long, value: Double, del: Boolean)
  case class CdcState(tus: Long, eventId: Long, value: Double, del: Boolean)
  case class CdcOut(user_id: Long, tus: Long, event_id: Long, value: Double, del: Boolean)

  /** Last-writer-wins CDC apply: the per-key ValueState holds the single
    * LATEST change (ordered by (ts, event_id) — event ids break same-µs
    * ties deterministically), upserts and deletes alike; a delete is a
    * retained TOMBSTONE, not a state clear, because a clear would let an
    * out-of-order earlier upsert in a later batch resurrect the row —
    * the standard CDC-materialization subtlety. Each batch emits the
    * key's current latest, so emissions are monotone in (ts, event_id)
    * and the final snapshot is the max-struct per key. State is O(keys),
    * one row each — the minimal footprint for CDC view materialization
    * (production adds tombstone GC once the source's retention window
    * passes; bounded replays never need it). */
  class CdcApplyProcessor extends StatefulProcessor[Long, CdcEv, CdcOut] {
    @transient private var st: ValueState[CdcState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CdcState](
        "latest", Encoders.product[CdcState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[CdcEv],
                                 tv: TimerValues): Iterator[CdcOut] = {
      var cur = Option(st.get())
      rows.foreach { e =>
        val newer = cur.forall(c =>
          e.tus > c.tus || (e.tus == c.tus && e.event_id > c.eventId))
        if (newer) cur = Some(CdcState(e.tus, e.event_id, e.value, e.del))
      }
      val c = cur.get // rows is non-empty for an invoked key
      st.update(c)
      Iterator.single(CdcOut(key, c.tus, c.eventId, c.value, c.del))
    }
  }

  /** Shared purchases⋈signups event-time range join runner (inner and
    * left-outer variants). runStream builds ONE source; these queries need
    * two, so the streaming query is assembled directly with the same
    * conventions. rep.schema is reused — re-reading the replay dir would
    * add two redundant batch footer-scans (one per source).
    *
    * Both variants ride the "flush" replay (r16 diet). Inner emits
    * matches as they arrive, tolerates any file grouping, and drops the
    * sentinels at its event-type filters. Outer keeps the `__flush__`
    * sentinels inside BOTH sides' filters: unmatched-row emission is driven by state
    * eviction under the global watermark, which is the MIN of the two
    * sides' watermarks — if either filter dropped the sentinels before its
    * withWatermark node, that side would stall at the last real event and
    * no null-match would ever emit. Sentinel rows (user_id = -1, 30-day
    * spacing ⇒ they never match each other's 7-day window) surface as
    * unmatched left rows; callers drop them from the completed table.
    */
  private def streamStreamJoin(s: SparkSession, d: String, joinType: String): DataFrame = {
    val isOuter = joinType != "inner"
    // BOTH sides ride the flush replay (r16 diet): inner emits matches as
    // rows arrive, so it tolerates any grouping — 2 files/trigger over the
    // merged-1-data-file layout = 2 micro-batches (the sentinels it groups
    // in are dropped by its event-type filter); outer's null-matches are
    // watermark-eviction-driven, so its flush sentinels must stay
    // one-per-batch (see runStream's doc) = the 4-batch floor.
    val rep = replay(s, d, "flush")
    val mfpt = if (isOuter) 1 else 2
    val name = s"graft_stream_ss_${nameCounter.incrementAndGet()}"
    def srcStream = s.readStream.schema(rep.schema)
      .option("maxFilesPerTrigger", mfpt).parquet(rep.srcDir)
    def side(t: String, idAs: String, userAs: String, tsAs: String) = {
      val keep = if (isOuter) Seq(t, "__flush__") else Seq(t)
      srcStream.filter(col("event_type").isin(keep: _*))
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
                col("ts").as(tsAs))
    }
    val purchases = side("purchase", "p_id", "p_user", "p_ts")
      .withWatermark("p_ts", "1 hour")
    val signups = side("signup", "s_id", "s_user", "s_ts")
      .withWatermark("s_ts", "1 hour")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", 2)
    try withCheckpoint() { ckpt =>
      purchases.join(signups,
          col("p_user") === col("s_user") &&
          col("s_ts") <= col("p_ts") &&
          col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"),
          joinType)
        .select(col("p_id"), col("p_user").as("user_id"), col("p_ts"),
                col("s_id"), col("s_ts"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    s.table(name)
  }

  /** One embedded Derby database per JVM for the JDBC sink key, on the
    * IN-MEMORY subprotocol: the sink's contract (executor-side
    * foreachBatch + idempotent keyed upsert, read back through JDBC) is
    * identical, but none of Derby's page/transaction-log disk IO happens
    * — that IO was the noisiest raw-repeat spread on the bench board
    * (r15: [10.3, 5.1, 8.6] s for one key; the sentinel protocol kept
    * flagging its segments). A real deployment points this URL at a DB
    * server, where durability is the server's concern, so in-memory
    * loses no fidelity here. Each invocation gets its OWN counter-named
    * table, so overlapping invocations in one JVM cannot clobber each
    * other's rows. */
  private lazy val derbyUrl: String =
    s"jdbc:derby:memory:graftstream${nameCounter.incrementAndGet()};create=true"

  /** Idempotent keyed upsert of (window_start, event_type, n, sv) rows into
    * `table`: DELETE+INSERT per key inside one transaction, so replaying
    * the same rows (a foreachBatch re-delivery after a crash between sink
    * write and commit-log write) converges to the same table instead of
    * double-counting. Runs executor-side — one connection per partition.
    * StreamingSpec applies it twice to prove the idempotency. */
  private[graft] def upsertWindowRows(
      url: String, table: String,
      rows: Iterator[org.apache.spark.sql.Row]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val del = conn.prepareStatement(
        s"DELETE FROM $table WHERE window_start = ? AND event_type = ?")
      val ins = conn.prepareStatement(
        s"INSERT INTO $table VALUES (?, ?, ?, ?)")
      rows.foreach { r =>
        val ws = r.getTimestamp(0); val et = r.getString(1)
        del.setTimestamp(1, ws); del.setString(2, et); del.addBatch()
        ins.setTimestamp(1, ws); ins.setString(2, et)
        ins.setLong(3, r.getLong(2))
        // sv is NULL for an all-null-value window (SQL sum skips nulls) —
        // store SQL NULL, not a getDouble crash; the oracle's sum is NULL
        // on the same groups
        if (r.isNullAt(3)) ins.setNull(4, java.sql.Types.DOUBLE)
        else ins.setDouble(4, r.getDouble(3))
        ins.addBatch()
      }
      del.executeBatch(); ins.executeBatch()
      conn.commit()
      del.close(); ins.close()
    } finally conn.close()
  }

  val queries: Map[String, Q] = graft.Contract.uniqueMap("StreamOps.queries", Seq(
    // Tumbling 1-hour windows per event type, 10-min watermark.
    "stream_tumbling" -> ((s, d) => {
      val rep = replay(s, d, "flush")
      runStream(s, rep, "append") { src =>
        src.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      }
        .filter(!(col("event_type") <=> "__flush__"))
        .select(col("window.start").as("window_start"), col("event_type"),
                col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // MULTI-SOURCE union: two independent file sources (disjoint
    // time-interleaved halves of the log — the "two Kafka topics, one
    // pipeline" topology) unioned into ONE streaming query feeding the
    // tumbling aggregation. Spark tracks per-source offsets in the single
    // checkpoint and advances the global watermark as the MIN over
    // sources, so a lagging source holds eviction back instead of losing
    // its late rows — the property this key pins (each source carries its
    // own flush sentinels for exactly that reason). Result ≡ the
    // single-source tumbling agg over the full log.
    "stream_union_sources" -> ((s, d) => {
      val rep = replay(s, d, "base")
      val (dirA, dirB) = unionDirs(s, d)
      val name = s"graft_stream_${nameCounter.incrementAndGet()}"
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", 2)
      try withCheckpoint() { ckpt =>
        def src(dir: String) = s.readStream.schema(rep.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir)
        src(dirA).unionByName(src(dirB))
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("sv"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.table(name)
        .filter(!(col("event_type") <=> "__flush__"))
        .select(col("window.start").as("window_start"), col("event_type"),
                col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // 1-hour windows sliding every 15 minutes (4 windows per event).
    "stream_sliding" -> ((s, d) => {
      val rep = replay(s, d, "flush")
      runStream(s, rep, "append") { src =>
        src.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      }
        .filter(!(col("event_type") <=> "__flush__"))
        .select(col("window.start").as("window_start"), col("event_type"),
                col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // Per-user sessions with a 30-minute inactivity gap.
    "stream_session" -> ((s, d) => {
      val rep = replay(s, d, "flush")
      runStream(s, rep, "append") { src =>
        src.withWatermark("ts", "10 minutes")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_window.start").as("session_start"),
                col("session_window.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // COMPLETE output mode — the third of the triad (append/update keys
    // cover the other two): every micro-batch re-emits the ENTIRE
    // aggregate state, so the sink always holds a full, current snapshot
    // — the live-leaderboard/dashboard mode. The trade-offs this key
    // encodes: state is never evicted (no watermark — complete mode
    // forbids dropping groups), so it is only sane for BOUNDED group
    // cardinality (a handful of event types here; a per-user complete agg
    // at 100 TB is an OOM by design), and sink writes are O(groups) per
    // batch, not O(new data). No flush sentinels needed — the last
    // snapshot IS the final answer.
    "stream_complete_mode" -> ((s, d) => {
      val rep = replay(s, d, "base")
      runStream(s, rep, "complete", filesPerTrigger = 2) { src =>
        src.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      }
        .select(col("event_type"), col("n"), round(col("sv"), 2).as("sum_value"))
        .orderBy("event_type")
    }),

    // DYNAMIC-gap sessionization — session_window's gapDuration-as-COLUMN
    // form: the inactivity threshold is a per-event expression (quick
    // 'view' interactions time out after 15 minutes, heavier events hold
    // the session open 45). A session is the union of overlapping
    // per-event [ts, ts+gap) windows, so its end is max(ts+gap) — NOT
    // last-ts+constant, which is why the fixed-gap lag trick
    // (stream_session's oracle) no longer works and the oracle tracks the
    // running max of window ends instead. Same state mechanics as the
    // fixed form: keyed session state merged incrementally, evicted below
    // the watermark. Flush sentinels pass through (their 45-min windows
    // are dropped by user_id post-run).
    "stream_session_dynamic" -> ((s, d) => {
      val rep = replay(s, d, "flush")
      runStream(s, rep, "append") { src =>
        src.withWatermark("ts", "10 minutes")
          .groupBy(session_window(col("ts"),
              when(col("event_type") === "view", "15 minutes")
                .otherwise("45 minutes")),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_window.start").as("session_start"),
                col("session_window.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // Drop duplicate event_ids within the watermark: the replay re-emits the
    // most recent 90 minutes as an extra trailing chunk; a 3-hour watermark keeps those
    // keys in state, so the stream output equals the original table.
    "stream_dedup" -> ((s, d) => {
      val rep = replay(s, d, "dup")
      // dedup emits rows as they arrive (append, no window finalization);
      // the only constraint is the dup tail arriving AFTER its originals
      // are in state, which file grouping preserves (time-ordered files).
      runStream(s, rep, "append", filesPerTrigger = 2) { src =>
        src.withWatermark("ts", "3 hours")
          .dropDuplicates("event_id")
          .select("event_id", "ts", "user_id", "event_type", "value")
      }
        .orderBy("event_id")
    }),

    // dropDuplicatesWithinWatermark — the SCALE-CORRECT spelling of
    // stream_dedup: plain dropDuplicates keeps every key's state forever
    // (unbounded growth on an infinite stream; the watermark on the
    // column only gates the rows, not the dedup state), while the
    // WithinWatermark variant EVICTS a key's state once the watermark
    // passes its event time + delay — the contract weakens to "duplicates
    // arriving within the delay of each other are dropped", which is the
    // guarantee real at-least-once sources (Kafka redelivery, replayed
    // batches) actually need. The replay's 90-day delay spans the whole
    // corpus, so nothing evicts in-gate and the oracle stays the exact
    // DISTINCT ON; StreamingSpec pins the EVICTION half (a short delay
    // re-admits a late duplicate — the documented semantic difference).
    "stream_dedup_ttl" -> ((s, d) => {
      val rep = replay(s, d, "dup")
      runStream(s, rep, "append", filesPerTrigger = 2) { src =>
        src.withWatermark("ts", "90 days")
          .dropDuplicatesWithinWatermark("event_id")
          .select("event_id", "ts", "user_id", "event_type", "value")
      }
        .orderBy("event_id")
    }),

    // Arbitrary stateful processing: running per-user (count, sum) via
    // mapGroupsWithState in update mode; the final state per user (row with
    // the max monotone count) must equal the batch GROUP BY.
    "stream_stateful_count" -> ((s, d) => {
      val rep = replay(s, d, "base")
      import s.implicits._
      // no watermark: final state equals the batch GROUP BY under any
      // file grouping; 2 files per trigger = 2 real update rounds.
      runStream(s, rep, "update", filesPerTrigger = 2) { src =>
        src.filter(col("user_id").isNotNull) // keyed state needs a key
            .select(col("user_id"),
                    coalesce(col("value"), lit(0.0)).as("value")).as[Ev]
          .groupByKey(_.user_id)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout)(statefulCount)
          .toDF()
      }
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("sum"))).as("fin"))
        .select(col("user_id"), col("fin.n").as("n_events"),
                round(col("fin.sum"), 2).as("sum_value"))
        .orderBy("user_id")
    }),

    // Same semantics on transformWithState (Spark 4 state API v2), which
    // requires the RocksDB state store — pinned for this query's lifetime
    // and restored after (the provider is fixed at first query start).
    "stream_stateful_tws" -> ((s, d) => {
      val rep = replay(s, d, "base")
      import s.implicits._
      withRocksDB(s) {
        runStream(s, rep, "update", filesPerTrigger = 2) { src =>
          src.filter(col("user_id").isNotNull) // keyed state needs a key
            .select(col("user_id"),
                    coalesce(col("value"), lit(0.0)).as("value")).as[Ev]
            .groupByKey(_.user_id)
            .transformWithState(new RunningCountProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF()
        }
      }
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("sum"))).as("fin"))
        .select(col("user_id"), col("fin.n").as("n_events"),
                round(col("fin.sum"), 2).as("sum_value"))
        .orderBy("user_id")
    }),

    // EVENT-TIME TIMERS on the state API v2 (SessionTimerProcessor doc):
    // the session-timeout pattern — open session in ValueState, a timer at
    // last + gap closes it when the watermark proves it over, inline close
    // on a ≥gap successor within a batch. Same sessions as stream_session
    // (same gap, same flush replay, SAME oracle), so the gate certifies the
    // hand-rolled timer machinery against both the batch gaps-and-islands
    // SQL and — transitively — session_window's native operator.
    "stream_stateful_timers" -> ((s, d) => {
      val rep = replay(s, d, "flush")
      import s.implicits._
      withRocksDB(s) {
        runStream(s, rep, "append") { src =>
          src.withWatermark("ts", "10 minutes")
            .filter(col("user_id").isNotNull) // keyed state needs a key
            .select(col("user_id"), unix_micros(col("ts")).as("tus")).as[SessEv]
            .groupByKey(_.user_id)
            .transformWithState(new SessionTimerProcessor,
              TimeMode.EventTime(), OutputMode.Append())
            .toDF()
        }
      }
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
                timestamp_micros(col("start_us")).as("session_start"),
                timestamp_micros(col("end_us")).as("session_end"),
                col("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // STATE TTL on the state API v2 (TtlCountProcessor doc): the running
    // count with a 1-hour wall-clock retention bound on its ValueState —
    // TTL plumbing (per-value expiry encoding, min-expiry bookkeeping)
    // runs on every write, while nothing expires inside the seconds-long
    // replay, so the result is oracle-gated against the batch GROUP BY.
    // Real expiry is pinned by StreamingSpec's millisecond-TTL instance.
    // runStreamCaughtUp, NOT runStream: ProcessingTime TWS never
    // terminates under AvailableNow (see that helper's doc).
    "stream_state_ttl" -> ((s, d) => {
      val rep = replay(s, d, "base")
      import s.implicits._
      withRocksDB(s) {
        runStreamCaughtUp(s, rep, "update", rep.nBase + rep.nExtra,
                          filesPerTrigger = 2) { src =>
          src.filter(col("user_id").isNotNull) // keyed state needs a key
            .select(col("user_id"),
                    coalesce(col("value"), lit(0.0)).as("value")).as[Ev]
            .groupByKey(_.user_id)
            .transformWithState(new TtlCountProcessor(3600000L),
              TimeMode.ProcessingTime(), OutputMode.Update())
            .toDF()
        }
      }
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("sum"))).as("fin"))
        .select(col("user_id"), col("fin.n").as("n_events"),
                round(col("fin.sum"), 2).as("sum_value"))
        .orderBy("user_id")
    }),

    // CDC apply (CdcApplyProcessor doc): the event stream read as a
    // change log — every row an upsert except purchases, which act as
    // DELETES — materialized into a per-user latest-value snapshot with
    // last-writer-wins (ts, event_id) ordering and retained tombstones.
    // This is the streaming half of sink_merge_upsert: the same MERGE
    // semantics, maintained incrementally in O(keys) state instead of by
    // batch rewrite. Oracle = the batch argmax (row_number DESC = 1) with
    // tombstoned users dropped — the gate proves replayed incremental
    // apply ≡ batch last-write per key.
    "stream_cdc_apply" -> ((s, d) => {
      val rep = replay(s, d, "base")
      import s.implicits._
      withRocksDB(s) {
        runStream(s, rep, "update", filesPerTrigger = 2) { src =>
          src.filter(col("user_id").isNotNull) // keyed state needs a key
            .select(col("user_id"), unix_micros(col("ts")).as("tus"),
                     col("event_id"), coalesce(col("value"), lit(0.0)).as("value"),
                     coalesce(col("event_type") === "purchase", lit(false))
                       .as("del")).as[CdcEv]
            .groupByKey(_.user_id)
            .transformWithState(new CdcApplyProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF()
        }
      }
        .groupBy("user_id")
        .agg(max(struct(col("tus"), col("event_id"), col("value"), col("del"))).as("fin"))
        .filter(!col("fin.del"))
        .select(col("user_id"),
                timestamp_micros(col("fin.tus")).as("last_ts"),
                round(col("fin.value"), 2).as("value"))
        .orderBy("user_id")
    }),

    // Late-data assertion (no SQL oracle): an extra post-base chunk replays rows well
    // older than the already-advanced watermark; every one must be dropped
    // by the windowed aggregation. Emits one summary row.
    "stream_late_data" -> ((s, d) => {
      val rep = replay(s, d, "late")
      val streamed = runStream(s, rep, "append") { src =>
        // NO pre-agg sentinel filter: a filter on event_type pushes down to
        // the parquet scan and row-group stats prune the whole sentinel file
        // — the watermark operator then never sees it and the last windows
        // never close (measured). Sentinels flow through the aggregation and
        // their far-future windows are cut off by time below.
        src.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
      }
        .filter(col("window.start") <= timestamp_micros(lit(rep.mxUs)))
        .agg(sum("n").as("n_stream"))
      streamed.select(
        col("n_stream"),
        lit(rep.nBase).as("n_base"),
        lit(rep.nExtra).as("n_late_injected"),
        (lit(rep.nBase) + rep.nExtra - col("n_stream")).as("n_dropped"),
        (col("n_stream") === rep.nBase).as("all_late_dropped"))
    }),

    // Stream-stream inner join with an event-time range condition: each
    // purchase joins the same user's signups within the preceding 7 days.
    // Both sides are independent file streams over the same replay (each
    // filters its event type). Watermarks + the time-range bound let Spark
    // EVICT joined state (without them, stream-stream state grows forever);
    // inner-join output is emitted as matches arrive, so no flush sentinel
    // gymnastics are needed for completeness of the final result.
    "stream_stream_join" -> ((s, d) =>
      streamStreamJoin(s, d, "inner").orderBy("p_id", "s_id")),

    // Stream-stream LEFT OUTER join — the state-eviction-critical case the
    // inner join never exercises: a purchase with no qualifying signup can
    // only be emitted (with null signup columns) once the GLOBAL watermark
    // (min over both sides) proves no matching signup can still arrive,
    // i.e. when state eviction fires. Uses the flush-sentinel replay so the
    // watermark actually advances past the last real purchases; sentinels
    // must FLOW THROUGH both sides' event-type filters (a filter that drops
    // them pre-watermark stalls that side's watermark and the null-matches
    // never emit — same failure mode as stream_late_data's pushdown note),
    // and are removed from the completed result by user_id, post-run.
    "stream_stream_outer" -> ((s, d) =>
      streamStreamJoin(s, d, "left_outer")
        .filter(col("user_id") =!= -1L)
        .orderBy(col("p_id"), col("s_id").asc_nulls_first)),

    // Real FILE sink (every other stream ends in the memory sink, which is
    // replay scaffolding): the windowed aggregation streams into a parquet
    // directory with exactly-once semantics via the sink's _spark_metadata
    // commit log — a crashed/re-run batch never double-counts because the
    // batch read below only sees files the log committed. This is the
    // production path: swap the source for Kafka and nothing else changes.
    "stream_file_sink" -> ((s, d) => {
      val rep = replay(s, d, "flush")
      val outDir = Files.createTempDirectory("graft-fsink-").toFile.getAbsolutePath
      withCheckpoint() { ckpt =>
        runReplay(s, rep, 1) { src =>
          windowAgg(src)
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
        }
      }
      sinkResult(s.read.parquet(outDir))
    }),

    // Checkpoint RESTART / incremental catch-up — the production backfill
    // loop no other key exercises: the SAME query runs TWICE with the SAME
    // checkpoint against a source that grew in between (nightly
    // incremental ingest, or crash-recovery after partial progress). Run 1
    // sees half the chunk files; run 2 starts from the checkpoint's file
    // log and must process EXACTLY the files that arrived since — never
    // re-emitting run 1's rows (file-sink _spark_metadata transactionality
    // + source seen-files log together give end-to-end exactly-once across
    // restarts). The gate proves it arithmetically: n == count(DISTINCT
    // event_id) per type in the sink equals the batch truth over the full
    // table — one duplicated or dropped micro-batch breaks both columns.
    // At 100 TB this is THE steady-state shape: checkpoint state is O(seen
    // files) on the driver, per-run work is O(new data) only.
    "stream_checkpoint_restart" -> ((s, d) => {
      val rep = replay(s, d, "base") // real events only, no sentinels
      val srcDir = Files.createTempDirectory("graft-restart-src-").toFile
      val outDir = Files.createTempDirectory("graft-restart-out-").toFile.getAbsolutePath
      val parts = Option(new File(rep.srcDir).listFiles())
        .getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      def arrive(fs: Array[File]): Unit = fs.foreach { f =>
        val dst = new File(srcDir, f.getName)
        Files.copy(f.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(f.lastModified)
      }
      def runOnce(ckpt: String): Unit =
        s.readStream.schema(rep.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(srcDir.getAbsolutePath)
          // stateless per-row transform: restart semantics are the point;
          // decimal cast so the final sum is order-exact at the gate
          .select(col("event_id"), col("event_type"),
                  col("value").cast("decimal(14,2)").as("v"))
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      val (firstHalf, rest) = parts.splitAt(parts.length / 2)
      withCheckpoint("graft-restart-ckpt-") { ckpt =>
        arrive(firstHalf); runOnce(ckpt)
        arrive(rest); runOnce(ckpt)
      }
      s.read.parquet(outDir) // reads through the sink's commit log
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             round(sum("v"), 2).cast("double").as("sv"),
             countDistinct("event_id").as("n_ids"))
        .orderBy("event_type")
    }),

    // Structured Streaming → JDBC sink — the reference's declared shape
    // (BASELINE.json: "Structured Streaming + JDBC sink"), batch half at
    // ScanOps.sink_jdbc. Spark has no exactly-once JDBC stream sink, so the
    // production pattern is foreachBatch + an IDEMPOTENT keyed upsert:
    // each appended window row is DELETE+INSERTed under its (window_start,
    // event_type) primary key inside one transaction per partition, so a
    // replayed batch (restart after a crash between sink write and commit-
    // log write) converges to the same table instead of double-counting.
    // Writes run executor-side via foreachPartition — on a real cluster
    // each partition opens its own connection to the DB server; embedded
    // Derby here is single-JVM, hence the coalesce(1) (same rationale as
    // the batch key).
    "stream_jdbc_sink" -> ((s, d) => {
      val rep = replay(s, d, "flush")
      val url = derbyUrl
      val tbl = s"win_counts_${nameCounter.incrementAndGet()}"
      locally { // fresh per-invocation table in the per-JVM database
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          st.executeUpdate(
            s"""CREATE TABLE $tbl(
                 window_start TIMESTAMP NOT NULL,
                 event_type VARCHAR(64) NOT NULL,
                 n BIGINT, sv DOUBLE,
                 PRIMARY KEY (window_start, event_type))""")
          st.close()
        } finally conn.close()
      }
      withCheckpoint() { ckpt =>
        runReplay(s, rep, 1) { src =>
          // the sink's (window_start, event_type) PRIMARY KEY cannot hold
          // NULL — a null key canonicalizes to '' at the sink boundary (the
          // src_text_roundtrip convention); the oracle groups the same
          // coalesce, so NULL and '' merge identically on both engines
          // BEFORE the aggregation, not after: post-agg coalescing would
          // leave a NULL group and a genuine '' group as two rows sharing
          // one PRIMARY KEY on a corpus carrying both — merging upstream
          // is exactly the oracle's GROUP BY coalesce(event_type, '')
          windowAgg(src.withColumn("event_type",
              coalesce(col("event_type"), lit(""))))
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                             _: Long) =>
              batch.coalesce(1).foreachPartition {
                (rows: Iterator[org.apache.spark.sql.Row]) =>
                  upsertWindowRows(url, tbl, rows)
              }
            }
            .start()
        }
      }
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
      sinkResult(s.read.jdbc(url, tbl, props))
    }),

    // Stream ⋈ static dimension: per-micro-batch broadcast hash join.
    "stream_static_join" -> ((s, d) => {
      val rep = replay(s, d, "base")
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      // stateless stream⋈static: rows emit per batch, grouping is free
      runStream(s, rep, "append", filesPerTrigger = 2) { src =>
        src.join(broadcast(cust), src("user_id") === cust("c_custkey"))
          .select(col("event_id"), col("user_id"), col("c_mktsegment"), col("value"))
      }
        .orderBy("event_id")
    }),

    // Streaming AS-OF enrichment — the feature-store point-in-time join
    // done STATELESSLY: the static signup dimension is pre-compiled into
    // validity intervals ([s_ts, next s_ts) per user, one tiny window over
    // dimension rows), so each streamed purchase equi-joins user_id plus a
    // range predicate and matches AT MOST ONE interval — exact as-of
    // semantics with no state store, no watermark, append mode. At scale
    // the interval table is the broadcast dimension snapshot; the stream
    // side never shuffles. The batch twin is the same ASOF oracle the
    // join_asof family uses.
    "stream_asof" -> ((s, d) => {
      val rep = replay(s, d, "base")
      val wNext = org.apache.spark.sql.expressions.Window
        .partitionBy("s_user").orderBy("s_ts")
      val sign = Tables.events(s, d)
        // the static dimension draws from the SAME guarded feed as the
        // bus (r19 fuzz) — its oracle's events CTE applies to both sides
        .filter(graft.Contract.finiteOrNull(col("value")))
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
        .withColumn("s_end", lead("s_ts", 1).over(wNext))
      runStream(s, rep, "append", filesPerTrigger = 2) { src =>
        val p = src.filter(col("event_type") === "purchase")
        p.join(broadcast(sign),
            p("user_id") === col("s_user") && p("ts") >= col("s_ts") &&
              (col("s_end").isNull || p("ts") < col("s_end")))
          .select(p("event_id"), p("user_id"), p("ts"),
                  col("s_ts").as("signup_ts"))
      }
        .orderBy("event_id")
    }),

    // Custom DataSource V2 micro-batch SOURCE (graft.sources.BusSource —
    // the connector extension surface, VERDICT r5 #2): events published
    // once per (JVM, sfDir) to the in-process bus in event-time order,
    // admitted one queued batch per trigger via admission control — the
    // Kafka-shaped ingest call site with the broker swapped for the bus.
    // Stateless filter+project so the oracle checks exactly the source's
    // responsibility: every row flows through the micro-batch pipeline
    // intact, across ≥6 separate batches (StreamingSpec pins the batch
    // count and PlanSpec the custom scan node).
    "stream_bus_source" -> ((s, d) => {
      val topic = busTopic(s, d)
      val name = s"graft_stream_${nameCounter.incrementAndGet()}"
      withCheckpoint() { ckpt =>
        s.readStream.format("graft-bus")
          .option("topic", topic)
          .option("batchesPerTrigger", 1)
          .load()
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "value")
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      s.table(name).orderBy("event_id")
    }),

    // Partitioned-topic twin of stream_bus_source (VERDICT r8 #6): the
    // same events ride a 3-partition topic — per-partition batch logs,
    // per-partition offsets merged into one source offset, one batch per
    // partition admitted per trigger. The oracle checks exactly the
    // multi-partition source's responsibility: every row from every
    // partition log delivered exactly once; StreamingSpec pins the
    // per-partition resume mechanics this key can't see.
    "stream_bus_partitioned" -> ((s, d) => {
      val topic = busTopicPartitioned(s, d)
      val name = s"graft_stream_${nameCounter.incrementAndGet()}"
      withCheckpoint() { ckpt =>
        s.readStream.format("graft-bus")
          .option("topic", topic)
          .option("batchesPerTrigger", 1)
          .load()
          .filter(col("event_type") === "click")
          .select("event_id", "user_id", "value")
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      s.table(name).orderBy("event_id")
    }),

    // Write half of the connector: bus source → filter/project → bus SINK
    // (StreamingWrite with epoch-idempotent driver-side commits — a
    // replayed micro-batch converges, StreamingSpec pins it), then read
    // the sink topic back through the source. The oracle checks the whole
    // round trip: every row through BOTH connector halves intact.
    "stream_bus_sink" -> ((s, d) => {
      val topic = busTopic(s, d)
      val nc = nameCounter.incrementAndGet()
      val out = s"bus_sink_$nc"
      withCheckpoint() { ckpt =>
        s.readStream.format("graft-bus")
          .option("topic", topic).option("batchesPerTrigger", 2).load()
          .filter(col("event_type") === "signup")
          .select("event_id", "user_id", "value")
          .writeStream.format("graft-bus").option("topic", out)
          .option("checkpointLocation", ckpt).outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      val name = s"graft_stream_$nc"
      withCheckpoint() { ckpt =>
        s.readStream.format("graft-bus").option("topic", out).load()
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt).outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      // the memory-sink table now holds the result; drop the per-invocation
      // sink topic so repeated invocations don't accrete driver-held rows
      graft.sources.BusRegistry.remove(out)
      s.table(name).orderBy("event_id")
    })
  ))

  /** DuckDB shadow CTE of the STREAMING-BUS ingest guard (r19 fuzz):
    * `baseChunks` rejects NaN/Inf `value` at the bus boundary; NULLs pass
    * through to each key's null convention. Every events-reading oracle
    * opens with this block — hoisted to ONE definition site (r19 verdict
    * #4) so the guard can never drift per-oracle. */
  private val eventsGuardCteSql: String =
    """WITH events AS (
      |        -- streaming-bus ingest guard (r19 fuzz): baseChunks rejects
      |        -- NaN/Inf `value` at the bus boundary; NULLs pass through
      |        SELECT * FROM main.events
      |        WHERE (value IS NULL OR isfinite(value)))""".stripMargin

  val oracle: Map[String, String] = graft.Contract.uniqueMap("StreamOps.oracle", Seq(
    // Restart plumbing is exactly-once ⇒ the sink equals one batch pass
    // over the full table; n == n_ids (unique event_id) is the dup canary.
    "stream_checkpoint_restart" -> s"""
      ${eventsGuardCteSql}
      SELECT event_type, count(*) AS n,
             CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE) AS sv,
             count(DISTINCT event_id) AS n_ids
      FROM events
      GROUP BY event_type
      ORDER BY event_type NULLS FIRST""",

    "stream_tumbling" -> s"""
      ${eventsGuardCteSql}
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type NULLS FIRST""",

    // The union of the two disjoint halves IS the full log — identical
    // oracle to stream_tumbling.
    "stream_union_sources" -> s"""
      ${eventsGuardCteSql}
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type NULLS FIRST""",

    // Each event belongs to the 4 sliding 1-hour windows whose starts are
    // its 15-min bucket minus 0/15/30/45 minutes.
    "stream_sliding" -> s"""
      ${eventsGuardCteSql},
      x AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - k * INTERVAL '15 minutes' AS window_start,
               event_type, value
        FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) t)
      SELECT window_start, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM x
      GROUP BY 1, 2
      ORDER BY window_start, event_type NULLS FIRST""",

    // Gaps-and-islands twin of session_window: a session breaks when the
    // gap is >= 30 minutes (Spark sessions are [start, last+gap) with an
    // exclusive end); session_end = last event + gap.
    // The final complete-mode snapshot equals the batch aggregate.
    "stream_complete_mode" -> s"""
      ${eventsGuardCteSql}
      SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type NULLS FIRST""",

    // Union-of-intervals semantics: a new session starts exactly when an
    // event's ts reaches the running MAX of all previous window ends
    // (ties at the same ts always merge — both windows start there).
    "stream_session_dynamic" -> s"""
      ${eventsGuardCteSql},
      e AS (
        SELECT user_id, ts, event_id,
               ts + CASE WHEN event_type = 'view' THEN INTERVAL '15 minutes'
                         ELSE INTERVAL '45 minutes' END AS e_end
        FROM events WHERE user_id IS NOT NULL),
      o AS (
        SELECT user_id, ts, event_id, e_end,
               max(e_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS pmax
        FROM e),
      f AS (
        SELECT user_id, ts, event_id, e_end,
               CASE WHEN pmax IS NULL OR ts >= pmax THEN 1 ELSE 0 END AS brk
        FROM o),
      g AS (
        -- the running sum MUST replay o's exact (ts, event_id) order: at a
        -- ts tie only the first row can carry brk=1, and a different tie
        -- order here would put the tied rows in different sessions
        SELECT user_id, ts, e_end,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
      SELECT user_id, min(ts) AS session_start, max(e_end) AS session_end,
             count(*) AS n_events
      FROM g
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",

    "stream_session" -> s"""
      ${eventsGuardCteSql},
      o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        FROM events WHERE user_id IS NOT NULL),
      f AS (
        SELECT user_id, ts,
               CASE WHEN pts IS NULL OR ts - pts >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM o),
      g AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL '30 minutes' AS session_end,
             count(*) AS n_events
      FROM g
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",

    "stream_dedup" -> s"""
      ${eventsGuardCteSql}
      SELECT DISTINCT ON (event_id) event_id, ts, user_id, event_type, value
      FROM events
      ORDER BY event_id""",

    // same exact-distinct oracle: the 90-day delay outlives the replay, so
    // the TTL'd variant drops every duplicate the unbounded one drops
    "stream_dedup_ttl" -> s"""
      ${eventsGuardCteSql}
      SELECT DISTINCT ON (event_id) event_id, ts, user_id, event_type, value
      FROM events
      ORDER BY event_id""",

    "stream_stateful_count" -> s"""
      ${eventsGuardCteSql}
      SELECT user_id, count(*) AS n_events,
             round(sum(coalesce(value, 0.0)), 2) AS sum_value
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
      ORDER BY user_id""",

    "stream_stateful_tws" -> s"""
      ${eventsGuardCteSql}
      SELECT user_id, count(*) AS n_events,
             round(sum(coalesce(value, 0.0)), 2) AS sum_value
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
      ORDER BY user_id""",

    // batch argmax per user: the latest change wins; tombstoned (delete-
    // final) users are absent from the snapshot
    "stream_cdc_apply" -> s"""
      ${eventsGuardCteSql},
      ranked AS (
        SELECT user_id, ts, coalesce(value, 0.0) AS value,
               coalesce(event_type = 'purchase', false) AS del,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL)
      SELECT user_id, ts AS last_ts, round(value, 2) AS value
      FROM ranked WHERE rn = 1 AND NOT del
      ORDER BY user_id""",

    // identical batch semantics to stream_stateful_tws — the key proves the
    // TTL'd-state write path, and a 1-hour TTL expires nothing in-replay
    "stream_state_ttl" -> s"""
      ${eventsGuardCteSql}
      SELECT user_id, count(*) AS n_events,
             round(sum(coalesce(value, 0.0)), 2) AS sum_value
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
      ORDER BY user_id""",

    // the timer-closed sessions must equal the batch gaps-and-islands —
    // the SAME oracle as stream_session (session_end = last + gap)
    "stream_stateful_timers" -> s"""
      ${eventsGuardCteSql},
      o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
        FROM events WHERE user_id IS NOT NULL),
      f AS (
        SELECT user_id, ts,
               CASE WHEN pts IS NULL OR ts - pts >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM o),
      g AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM f)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL '30 minutes' AS session_end,
             count(*) AS n_events
      FROM g
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",

    "stream_stream_join" -> s"""
      ${eventsGuardCteSql}
      SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
             s.event_id AS s_id, s.ts AS s_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id
       AND s.ts <= p.ts
       AND s.ts >= p.ts - INTERVAL 7 DAY
      ORDER BY p_id, s_id""",

    // NULLS FIRST matches Spark's asc_nulls_first default — the gate
    // compares rows in produced order, so null placement must agree.
    // p-side `user_id IS NOT NULL` mirrors the streaming symmetric-hash
    // join's engine behavior (r21 fuzz): it keys state by the equi-key,
    // so a NULL-key purchase never enters the state store and is NOT
    // null-filled at eviction — the operator contract is "NULL-key rows
    // are excluded", exactly the as-of family's documented convention
    // (callers with nullable keys filter first).
    "stream_stream_outer" -> s"""
      ${eventsGuardCteSql}
      SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
             s.event_id AS s_id, s.ts AS s_ts
      FROM (SELECT * FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id
       AND s.ts <= p.ts
       AND s.ts >= p.ts - INTERVAL 7 DAY
      ORDER BY p_id, s_id NULLS FIRST""",

    // stream_late_data: assertion-style, no oracle (rows-only check);
    // the ScalaTest suite asserts all_late_dropped.

    // identical semantics to stream_tumbling — the key exists to prove the
    // parquet FILE sink path (exactly-once commit log), not a new transform
    "stream_file_sink" -> s"""
      ${eventsGuardCteSql}
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type NULLS FIRST""",

    // identical semantics again — this key proves the foreachBatch JDBC
    // upsert path (idempotent keyed writes), not a new transform
    "stream_jdbc_sink" -> s"""
      ${eventsGuardCteSql}
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             coalesce(event_type, '') AS event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type""",

    "stream_static_join" -> s"""
      ${eventsGuardCteSql}
      SELECT event_id, user_id, c_mktsegment, value
      FROM events JOIN customer ON user_id = c_custkey
      ORDER BY event_id""",

    // The interval compilation is plumbing: the batch semantics are
    // exactly the backward as-of join, so the oracle is the same ASOF
    // JOIN the join_asof family uses.
    "stream_asof" -> s"""
      ${eventsGuardCteSql}
      SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND p.ts >= s.ts
      ORDER BY p.event_id""",

    // The bus source must deliver every row intact across micro-batches;
    // the transform is a plain filter+project, so the static table IS the
    // expected stream output.
    "stream_bus_source" -> s"""
      ${eventsGuardCteSql}
      SELECT event_id, user_id, value
      FROM events
      WHERE event_type = 'purchase'
      ORDER BY event_id""",

    // Every row of every partition log must arrive exactly once.
    "stream_bus_partitioned" -> s"""
      ${eventsGuardCteSql}
      SELECT event_id, user_id, value
      FROM events
      WHERE event_type = 'click'
      ORDER BY event_id""",

    // Round trip through BOTH connector halves must deliver every row once.
    "stream_bus_sink" -> s"""
      ${eventsGuardCteSql}
      SELECT event_id, user_id, value
      FROM events
      WHERE event_type = 'signup'
      ORDER BY event_id"""
  ))
}
