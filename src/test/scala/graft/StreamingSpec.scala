package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}

/** Streaming batch-equivalence suite (SURVEY §5): each §2-I query replayed
  * through the chunked file stream must equal the same computation done in
  * one batch over the static table — Spark vs Spark, so this is independent
  * of the DuckDB oracle and runs at sf0.001. */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("stream_tumbling equals batch windowed aggregation") {
    val streamed = StreamOps.queries("stream_tumbling")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_union_sources: two-source union equals single-source batch aggregation") {
    val streamed = StreamOps.queries("stream_union_sources")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_sliding equals batch sliding-window aggregation") {
    val streamed = StreamOps.queries("stream_sliding")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_session equals batch session_window aggregation") {
    val streamed = StreamOps.queries("stream_session")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_dedup drops every replayed duplicate") {
    val streamed = StreamOps.queries("stream_dedup")(spark, d).collect()
    assert(streamed.length === Tables.events(spark, d).count())
    assert(streamed.map(_.getLong(0)).distinct.length === streamed.length)
  }

  test("stream_stateful_count final state equals batch GROUP BY") {
    val streamed = StreamOps.queries("stream_stateful_count")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_stateful_tws (transformWithState) equals batch GROUP BY") {
    val streamed = StreamOps.queries("stream_stateful_tws")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_stateful_timers equals batch session_window aggregation") {
    // transitively certifies the timer machinery against the NATIVE session
    // operator (stream_session's own equality test covers the other leg)
    val streamed = StreamOps.queries("stream_stateful_timers")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_state_ttl equals batch GROUP BY (1h TTL expires nothing in-replay)") {
    val streamed = StreamOps.queries("stream_state_ttl")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .orderBy("user_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  // ---- synthetic micro-streams for the state-v2 timer/TTL pins ----

  /** One time-ordered parquet chunk file (spec-local twin of StreamOps'
    * replay writer). */
  private def writeChunk(df: org.apache.spark.sql.DataFrame,
                         dir: java.io.File, seq: Int): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sts-").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dst = new java.io.File(dir, f"c$seq%03d.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.setLastModified(1700000000000L + seq * 60000L)
  }

  private def withRocksDB[T](body: => T): T = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("event-time timer FIRES: a session with no successor closes via handleExpiredTimer") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(plusMin: Long) = new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-timerfire-").toFile
    // user 1: two events 10 min apart = ONE open session that no later
    // event ever closes inline — only a fired timer can emit it. Three
    // far-future rows (separate batches) advance the 2-batch-stale
    // executing watermark past the session's expiry.
    writeChunk(Seq((1L, t0), (1L, ts(10))).toDF("user_id", "ts"), dir, 0)
    (1 to 3).foreach { k =>
      writeChunk(Seq((-1L, ts(10000L * k))).toDF("user_id", "ts"), dir, k)
    }
    val name = "graft_timer_fire_pin"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile.getAbsolutePath
    withRocksDB {
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("user_id LONG, ts TIMESTAMP"))
        .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
        .withWatermark("ts", "10 minutes")
        .select(col("user_id"), unix_micros(col("ts")).as("tus")).as[StreamOps.SessEv]
        .groupByKey(_.user_id)
        .transformWithState(new StreamOps.SessionTimerProcessor,
          TimeMode.EventTime(), OutputMode.Append())
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val rows = spark.table(name).filter(col("user_id") === 1L).collect()
    assert(rows.length === 1, s"expected exactly one timer-closed session, got ${rows.toSeq}")
    val r = rows(0)
    assert(r.getAs[Long]("start_us") === t0.getTime * 1000L)
    assert(r.getAs[Long]("end_us") === (ts(10).getTime + 30L * 60000L) * 1000L)
    assert(r.getAs[Long]("n_events") === 2L)
  }

  test("dropDuplicatesWithinWatermark EVICTS: a redelivery after the delay re-emits") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    def ts(plusMin: Long) = new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-deduptl-").toFile
    // original event 1 at t0; three sentinel batches march the (2-batch
    // stale) watermark far past t0 + the 10-minute delay, evicting 1's
    // dedup state; then a redelivery of event 1 with a fresh timestamp
    writeChunk(Seq((1L, t0)).toDF("event_id", "ts"), dir, 0)
    (1 to 3).foreach { k =>
      writeChunk(Seq((9L, ts(60L * k))).toDF("event_id", "ts"), dir, k)
    }
    writeChunk(Seq((1L, ts(240))).toDF("event_id", "ts"), dir, 4)
    val name = "graft_dedup_ttl_pin"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile.getAbsolutePath
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("event_id LONG, ts TIMESTAMP"))
      .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val n1 = spark.table(name).filter(col("event_id") === 1L).count()
    // the contract WEAKENS under eviction — exactly the trade the 100 TB
    // state bound buys; stream_dedup_ttl's 90-day delay avoids it in-gate
    assert(n1 === 2L,
      s"expected the post-eviction redelivery to re-emit (2 rows), got $n1")
  }

  test("stream_cdc_apply: an out-of-order older upsert cannot resurrect a tombstone") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft-cdcpin-").toFile
    // batch 0: u1 insert @1s then DELETE @20s; u2 DELETE @5s
    writeChunk(Seq((1L, 1000000L, 10L, 1.0, false), (1L, 20000000L, 11L, 0.0, true),
                   (2L, 5000000L, 12L, 0.0, true))
      .toDF("user_id", "tus", "event_id", "value", "del"), dir, 0)
    // batch 1: u1 upsert @10s — OLDER than its delete, must NOT resurrect
    // (this is why a delete is a retained tombstone, not a state clear);
    //          u2 upsert @6s — newer than its delete, legitimately revives
    writeChunk(Seq((1L, 10000000L, 13L, 7.0, false), (2L, 6000000L, 14L, 6.0, false))
      .toDF("user_id", "tus", "event_id", "value", "del"), dir, 1)
    val name = "graft_cdc_pin"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile.getAbsolutePath
    withRocksDB {
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "user_id LONG, tus LONG, event_id LONG, value DOUBLE, del BOOLEAN"))
        .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
        .as[StreamOps.CdcEv]
        .groupByKey(_.user_id)
        .transformWithState(new StreamOps.CdcApplyProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val fin = spark.table(name).groupBy("user_id")
      .agg(max(struct(col("tus"), col("event_id"), col("value"), col("del"))).as("fin"))
    val u1 = fin.filter(col("user_id") === 1L).select("fin.del").head().getBoolean(0)
    assert(u1, "older out-of-order upsert resurrected user 1's tombstone")
    val u2 = fin.filter(col("user_id") === 2L)
      .select(col("fin.del"), col("fin.value")).head()
    assert(!u2.getBoolean(0) && u2.getDouble(1) === 6.0,
      s"user 2 should be revived at value 6.0, got $u2")
  }

  test("state TTL EXPIRES: millisecond TTL + spaced batches resets the running count") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val dir = java.nio.file.Files.createTempDirectory("graft-ttlexp-").toFile
    writeChunk(Seq((1L, 1.0), (1L, 1.0), (1L, 1.0)).toDF("user_id", "value"), dir, 0)
    writeChunk(Seq((1L, 1.0), (1L, 1.0)).toDF("user_id", "value"), dir, 1)
    val name = "graft_ttl_expiry_pin"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile.getAbsolutePath
    withRocksDB {
      // ProcessingTime TWS never terminates under AvailableNow (the
      // operator always requests another batch) — default trigger,
      // stopped once both data batches have emitted (runStreamCaughtUp's
      // discipline, counted on the sink table here)
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("user_id LONG, value DOUBLE"))
        .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
        .as[StreamOps.Ev]
        .groupByKey(_.user_id)
        // 200ms TTL; the 1s in-batch sleep guarantees batch 2's timestamp
        // exceeds batch 1's write expiry (one-directional: a slow box only
        // widens the margin, so this cannot flake toward false-pass)
        .transformWithState(new StreamOps.TtlCountProcessor(200L, 1000L),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", ckpt)
        .start()
      try {
        val deadline = System.currentTimeMillis() + 120000L
        while (spark.table(name).count() < 2 && q.isActive) {
          assert(System.currentTimeMillis() < deadline, "TTL stream never emitted 2 batches")
          Thread.sleep(100)
        }
      } finally q.stop()
      q.awaitTermination()
    }
    val ns = spark.table(name).collect().map(_.getAs[Long]("n")).toSet
    // batch 1 counts 3; batch 2 starts FRESH (state expired) and counts 2 —
    // an unexpired state would make batch 2 emit 5
    assert(ns === Set(3L, 2L), s"expected TTL reset {3,2}, got $ns")
  }

  test("TTL in event-time mode is rejected (why the timer and TTL keys are split)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    val dir = java.nio.file.Files.createTempDirectory("graft-ttlev-").toFile
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    writeChunk(Seq((1L, t0, 1.0)).toDF("user_id", "ts", "value"), dir, 0)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile.getAbsolutePath
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      withRocksDB {
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "user_id LONG, ts TIMESTAMP, value DOUBLE"))
          .parquet(dir.getAbsolutePath)
          .withWatermark("ts", "10 minutes")
          .select(col("user_id"), col("value")).as[StreamOps.Ev]
          .groupByKey(_.user_id)
          .transformWithState(new StreamOps.TtlCountProcessor(3600000L),
            TimeMode.EventTime(), OutputMode.Update())
          .toDF()
          .writeStream.format("memory").queryName("graft_ttl_reject")
          .outputMode("update").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + messages(t.getCause)
    assert(messages(ex).contains("STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL"),
      s"expected the TTL/time-mode error, got:\n${messages(ex)}")
  }

  test("stream_late_data: every injected late row is dropped by the watermark") {
    val row = StreamOps.queries("stream_late_data")(spark, d).collect()(0)
    assert(row.getAs[Long]("n_late_injected") > 0)
    assert(row.getAs[Boolean]("all_late_dropped"),
      s"late rows leaked: $row")
  }

  test("stream_late_data: the watermark-drop contract holds at BOTH SFs (r17 verdict #6 two-point pin)") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { sf =>
      val row = StreamOps.queries("stream_late_data")(spark, sf).collect()(0)
      assert(row.getAs[Long]("n_late_injected") > 0, s"$sf: no late rows injected")
      assert(row.getAs[Boolean]("all_late_dropped"), s"$sf: late rows leaked: $row")
    }
  }

  test("stream keys delete their checkpoint dirs") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def ckpts(): Set[String] = tmp.list().toSet.filter(n =>
      Seq("graft-ckpt-", "graft-restart-ckpt-", "graft-warm-ckpt-").exists(n.startsWith))
    Seq("stream_bus_sink", "stream_tumbling", "stream_checkpoint_restart").foreach { k =>
      val before = ckpts()
      assert(StreamOps.queries(k)(spark, d).collect().nonEmpty, k)
      // test JVMs share the temp dir: a dir another one's query holds
      // goes when that query ends, one this key leaked stays
      val fresh = ckpts() -- before
      eventually(timeout(Span(120, Seconds)), interval(Span(500, Millis))) {
        assert(fresh.filter(n => new java.io.File(tmp, n).exists).isEmpty, k)
      }
    }
  }

  test("stream_stream_join equals batch interval join") {
    val streamed = StreamOps.queries("stream_stream_join")(spark, d).collect()
    val ev = Tables.events(spark, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
    val batch = p.join(sg,
        col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("s_id"), col("s_ts"))
      .orderBy("p_id", "s_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_stream_outer equals batch left join and emits null-matches") {
    val streamed = StreamOps.queries("stream_stream_outer")(spark, d).collect()
    val ev = Tables.events(spark, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
    val batch = p.join(sg,
        col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"),
        "left_outer")
      .select(col("p_id"), col("user_id"), col("p_ts"), col("s_id"), col("s_ts"))
      .orderBy(col("p_id"), col("s_id").asc_nulls_first)
      .collect()
    assert(streamed.toSeq === batch.toSeq)
    // the whole point of the outer variant: state eviction actually emitted
    // unmatched purchases as null-matches
    assert(streamed.exists(_.isNullAt(3)),
      "no null-match rows — watermark never evicted unmatched purchases")
  }

  test("stream_stream_outer drops a NULL-user_id purchase (engine contract)") {
    // the symmetric-hash join keys its state by user_id, so a NULL-key
    // purchase never enters the state and is not null-filled at eviction;
    // the oracle restates that as `user_id IS NOT NULL`
    val ev = Tables.t(spark, d, "events")
    val nullId = 1000000L
    val nullKey = ev.filter(col("event_type") === "purchase").orderBy("event_id").limit(1)
      .withColumn("event_id", lit(nullId))
      .withColumn("user_id", lit(null).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_nullkey_").toString
    ev.unionByName(nullKey).coalesce(1).write.parquet(s"$dir/events.parquet")
    assert(Tables.events(spark, dir).filter(col("user_id").isNull).count() === 1)
    val out = StreamOps.queries("stream_stream_outer")(spark, dir).collect()
    assert(!out.exists(_.getLong(0) == nullId), "NULL-key purchase reached the output")
    assert(out.toSeq === StreamOps.queries("stream_stream_outer")(spark, d).collect().toSeq)
  }

  test("stream_file_sink equals batch aggregation (exactly-once file sink)") {
    val streamed = StreamOps.queries("stream_file_sink")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_jdbc_sink equals batch aggregation (idempotent JDBC upsert)") {
    val streamed = StreamOps.queries("stream_jdbc_sink")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("parquet file sink: batch read honors the commit log (exactly-once)") {
    // the stream_file_sink exactly-once claim rests on the sink's
    // _spark_metadata log: files a crashed batch wrote but never committed
    // must be INVISIBLE to readers. Simulate exactly that — drop a rogue
    // copy of a committed part file into the sink dir and assert the batch
    // read still sees only the committed rows.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val srcDir = Files.createTempDirectory("graft-fsink-src-").toString
    val outDir = Files.createTempDirectory("graft-fsink-out-").toString
    val ckpt = Files.createTempDirectory("graft-fsink-ck-").toString
    import spark.implicits._
    val src = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
    src.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream.schema(src.schema).parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(outDir).count() === 3L)
    val committed = new java.io.File(outDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(committed.nonEmpty)
    // a "crashed batch's" orphan: real parquet bytes, never committed
    Files.copy(committed.head.toPath,
      Paths.get(outDir, "part-99999-rogue-uncommitted.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(spark.read.parquet(outDir).count() === 3L,
      "batch read counted rows from an uncommitted file — exactly-once broken")
  }

  test("JDBC window upsert is idempotent under replay") {
    // the exactly-once claim of stream_jdbc_sink rests on this: a replayed
    // foreachBatch delivery (full or partial) must converge, not append
    val db = java.nio.file.Files.createTempDirectory("graft-derby-idem-")
      .toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        """CREATE TABLE win_counts(
             window_start TIMESTAMP NOT NULL, event_type VARCHAR(64) NOT NULL,
             n BIGINT, sv DOUBLE, PRIMARY KEY (window_start, event_type))""")
    } finally conn.close()
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "click", 3L, 1.5),
      Row(java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "click", 2L, 0.5))
    StreamOps.upsertWindowRows(url, "win_counts", rows.iterator)
    StreamOps.upsertWindowRows(url, "win_counts", rows.iterator)         // full replay
    StreamOps.upsertWindowRows(url, "win_counts", Seq(rows(0)).iterator) // partial replay
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val back = spark.read.jdbc(url, "win_counts", props)
      .orderBy("window_start").collect()
    assert(back.length === 2)
    assert(back(0).getLong(2) === 3L && back(1).getLong(2) === 2L)
    assert(back(0).getDouble(3) === 1.5 && back(1).getDouble(3) === 0.5)
  }

  test("stream_static_join equals batch join") {
    val streamed = StreamOps.queries("stream_static_join")(spark, d).collect()
    val ev = Tables.events(spark, d)
    val cust = Tables.customer(spark, d).select(col("c_custkey"), col("c_mktsegment"))
    val batch = ev.join(cust, ev("user_id") === cust("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"), col("value"))
      .orderBy("event_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream_asof equals the batch as-of join (stateless interval form)") {
    val streamed = StreamOps.queries("stream_asof")(spark, d).collect()
    val batch = SparkEntry.queries("join_asof")(spark, d).collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "streaming interval as-of diverged from the batch as-of join")
    // every purchase matches AT MOST one validity interval — the property
    // that makes the streaming join stateless-exact: no duplicate event_ids
    val ids = streamed.map(_.getLong(0))
    assert(ids.distinct.length === ids.length,
      "interval compilation emitted overlapping intervals")
  }

  test("stream_bus_source equals batch filter+project") {
    val streamed = StreamOps.queries("stream_bus_source")(spark, d).collect()
    val batch = Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
      .orderBy("event_id")
      .collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("graft-bus: admission control yields one queued batch per trigger") {
    val topic = StreamOps.busTopic(spark, d)
    val name = "bus_spec_sink"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-spec-")
      .toFile.getAbsolutePath
    val q = spark.readStream.format("graft-bus")
      .option("topic", topic).option("batchesPerTrigger", 1).load()
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 6 published bus batches at 1 per trigger ⇒ 6 data-carrying batches
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches === 6, s"expected 6 micro-batches, saw $dataBatches")
    // no row lost or duplicated across the batch boundaries
    assert(spark.table(name).count() === Tables.events(spark, d).count())
    // the physical plan of the executed micro-batches runs the custom scan
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(baos)) { q.explain() }
    assert(baos.toString.contains("GraftBusScan"),
      "custom DSv2 scan node missing from the streaming plan")
  }

  test("graft-bus sink: full connector round-trip, epoch commits idempotent") {
    import graft.sources.BusRegistry
    val topicIn = StreamOps.busTopic(spark, d)
    val out = "bus_sink_out_spec"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-sink-ck-")
      .toFile.getAbsolutePath
    // bus source → bus SINK: 3 micro-batches (6 queued / 2 per trigger),
    // each committed as one epoch-guarded batch of the out topic
    spark.readStream.format("graft-bus")
      .option("topic", topicIn).option("batchesPerTrigger", 2).load()
      .writeStream.format("graft-bus").option("topic", out)
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val nIn = Tables.events(spark, d).count()
    def readBack(): Long = {
      val name = s"bus_sink_back_${System.identityHashCode(new Object)}"
      val ck2 = java.nio.file.Files.createTempDirectory("graft-bus-sink-rb-")
        .toFile.getAbsolutePath
      spark.readStream.format("graft-bus").option("topic", out).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck2).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      spark.table(name).count()
    }
    assert(BusRegistry.get(out).batches.length === 3)
    assert(readBack() === nIn, "sink lost or duplicated rows")
    val sch = BusRegistry.get(out).schema
    // idempotence is keyed per (query, epoch): a REPLAYED epoch of the
    // same query no-ops; the SAME epoch number from a DIFFERENT query
    // (fresh checkpoint, epochs restart at 0) must still append
    BusRegistry.commitEpoch(out, "spec-q1", sch, 0L, Array.empty)
    assert(BusRegistry.get(out).batches.length === 4)
    BusRegistry.commitEpoch(out, "spec-q1", sch, 0L, Array.empty)
    assert(BusRegistry.get(out).batches.length === 4,
      "replayed (query, epoch) appended a duplicate batch")
    BusRegistry.commitEpoch(out, "spec-q2", sch, 0L, Array.empty)
    assert(BusRegistry.get(out).batches.length === 5,
      "an independent query's epoch 0 was swallowed by another query's log")
    // mismatched sink schema must fail loudly, not corrupt the row layout
    intercept[IllegalArgumentException] {
      BusRegistry.commitEpoch(out, "spec-q3",
        new org.apache.spark.sql.types.StructType().add("only_col", "long"),
        0L, Array.empty)
    }
    BusRegistry.remove(out)
    assert(!BusRegistry.contains(out))
  }

  test("graft-bus: nullability is one-directional into a topic") {
    import graft.sources.BusRegistry
    import org.apache.spark.sql.types.{LongType, StructType}
    val nn = spark.range(3).toDF("id") // id is NON-nullable
    BusRegistry.publish("nn_topic_spec", nn, 1)
    try {
      // nullable data into a non-nullable topic: readers would elide null
      // checks and read garbage — must fail loudly
      val nullable = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(1L)),
        new StructType().add("id", LongType, nullable = true))
      intercept[IllegalArgumentException] {
        BusRegistry.append("nn_topic_spec", nullable, 1)
      }
      // the benign direction (non-nullable into nullable) is exercised by
      // every sink test: projected write schemas are non-nullable where
      // the parquet-derived topic schema is nullable
      BusRegistry.append("nn_topic_spec", nn.filter(col("id") === 0), 1)
      assert(BusRegistry.get("nn_topic_spec").batches.length === 2)
    } finally BusRegistry.remove("nn_topic_spec")
  }

  test("graft-bus: a live-trigger query tails BusRegistry.append") {
    import graft.sources.BusRegistry
    val ev = Tables.events(spark, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("ts", "event_id")
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
    val topic = "live_tail_spec"
    BusRegistry.publish(topic, half1, nBatches = 2)
    val name = "live_tail_sink"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-live-ck-")
      .toFile.getAbsolutePath
    val q = spark.readStream.format("graft-bus")
      .option("topic", topic).option("batchesPerTrigger", 2).load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      def awaitCount(want: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (spark.table(name).count() != want && System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(spark.table(name).count() === want)
      }
      awaitCount(half1.count())
      // appended batches must reach the ALREADY-RUNNING query (no
      // AvailableNow pin exists under a live trigger)
      BusRegistry.append(topic, half2, nBatches = 2)
      awaitCount(ev.count())
    } finally {
      q.stop()
      BusRegistry.remove(topic)
    }
  }

  test("graft-bus: checkpointed query resumes at its committed batch index") {
    import graft.sources.BusRegistry
    val ev = Tables.events(spark, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("ts", "event_id")
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
    val topic = "resume_spec_topic"
    BusRegistry.publish(topic, half1, nBatches = 3)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-resume-ck-")
      .toFile.getAbsolutePath
    val out = java.nio.file.Files.createTempDirectory("graft-bus-resume-out-")
      .toFile.getAbsolutePath
    // parquet sink: its _spark_metadata commit log survives restarts, so a
    // re-run that wrongly REPLAYED batches would show up as duplicates
    def run(): Unit =
      spark.readStream.format("graft-bus")
        .option("topic", topic).option("batchesPerTrigger", 1).load()
        .select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    run()
    assert(spark.read.parquet(out).count() === half1.count())
    // live ingest: 3 appended batches; the restarted query must consume
    // ONLY them (offsets 3..6), not replay 0..3
    BusRegistry.append(topic, half2, nBatches = 3)
    run()
    val back = spark.read.parquet(out)
    assert(back.count() === ev.count(), "resume lost or duplicated rows")
    assert(back.select("event_id").distinct().count() === ev.count())
  }

  test("graft-bus: each micro-batch fans out across slicesPerBatch partitions") {
    // VERDICT r6 #5: one bus batch must NOT equal one input partition —
    // downstream per-trigger parallelism would be bounded by
    // batchesPerTrigger until the first shuffle. Each admitted batch is
    // sliced into up to slicesPerBatch partitions; foreachBatch observes
    // the source RDD's partition count per micro-batch.
    val topic = StreamOps.busTopic(spark, d)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-slice-ck-")
      .toFile.getAbsolutePath
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long)]
    spark.readStream.format("graft-bus")
      .option("topic", topic).option("batchesPerTrigger", 1)
      .option("slicesPerBatch", 4).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add((id, df.rdd.getNumPartitions, df.count())); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val dataBatches = scala.jdk.CollectionConverters
      .CollectionHasAsScala(seen).asScala.toSeq.filter(_._3 > 0)
    assert(dataBatches.size === 6, s"expected 6 data micro-batches: $dataBatches")
    dataBatches.foreach { case (id, parts, rows) =>
      assert(parts === 4,
        s"micro-batch $id ($rows rows) ran with $parts partitions, want 4")
    }
    // total rows conserved across the slicing
    assert(dataBatches.map(_._3).sum === Tables.events(spark, d).count())
  }

  test("graft-bus: partitioned topic — uneven logs drain fully, offsets merge per partition") {
    // VERDICT r8 #6: a 3-partition topic whose logs hold DIFFERENT batch
    // counts (partition 1 gets two appended batches). Per-partition
    // admission means each trigger advances every partition by at most
    // batchesPerTrigger of ITS queue; the merged offset must land on each
    // log's own length, and every row must arrive exactly once.
    import graft.sources.BusRegistry
    val topic = "part_topic_spec"
    BusRegistry.publishPartitioned(topic,
      spark.range(0, 60).toDF("id"), nParts = 3, nBatches = 2)
    BusRegistry.append(topic, spark.range(60, 80).toDF("id"), nBatches = 2, part = 1)
    assert(BusRegistry.get(topic).parts.map(_.length) === IndexedSeq(2, 4, 2))
    val name = "part_topic_sink"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-part-ck-")
      .toFile.getAbsolutePath
    try {
      val q = spark.readStream.format("graft-bus")
        .option("topic", topic).option("batchesPerTrigger", 1).load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(spark.table(name).select("id").collect().map(_.getLong(0)).sorted
        === (0L until 80L).toArray, "partitioned drain lost or duplicated rows")
      // the final committed offset is the per-partition merge, not a scalar
      val endOff = q.lastProgress.sources.head.endOffset
      assert(endOff === "[2,4,2]", s"want per-partition offsets, got $endOff")
    } finally BusRegistry.remove(topic)
  }

  test("graft-bus: partitioned topic resumes each partition at ITS committed offset") {
    // One partition is appended to between two AvailableNow runs sharing a
    // checkpoint: the resumed query must replay NOTHING from the untouched
    // partitions and consume exactly the appended batches of the hot one.
    import graft.sources.BusRegistry
    val topic = "part_resume_spec"
    BusRegistry.publishPartitioned(topic,
      spark.range(0, 40).toDF("id"), nParts = 2, nBatches = 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bus-presume-ck-")
      .toFile.getAbsolutePath
    val out = java.nio.file.Files.createTempDirectory("graft-bus-presume-out-")
      .toFile.getAbsolutePath
    // parquet sink: its _spark_metadata commit log survives restarts, so a
    // wrongly-replayed partition shows up as duplicate rows
    def run(): Unit =
      spark.readStream.format("graft-bus")
        .option("topic", topic).option("batchesPerTrigger", 1).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    try {
      run()
      assert(spark.read.parquet(out).count() === 40)
      BusRegistry.append(topic, spark.range(40, 50).toDF("id"), nBatches = 1, part = 0)
      run()
      val back = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
      assert(back === (0L until 50L).toArray,
        "per-partition resume lost or duplicated rows")
    } finally BusRegistry.remove(topic)
  }

  test("graft-bus: replay beyond the registry log fails with a clear message") {
    import graft.sources.{BusMicroBatchStream, BusOffset, BusRegistry}
    val topic = "replay_guard_spec"
    BusRegistry.publish(topic, spark.range(10).toDF("id"), nBatches = 2)
    try {
      val stream = new BusMicroBatchStream(topic, perTrigger = 1)
      // in-range replay works
      assert(stream.planInputPartitions(BusOffset(0), BusOffset(2)).nonEmpty)
      // checkpoint claims more batches than the (republished-smaller) log
      val short = intercept[IllegalStateException] {
        stream.planInputPartitions(BusOffset(0), BusOffset(5))
      }
      assert(short.getMessage.contains("republished"),
        s"want the checkpoint-vs-registry mismatch named: ${short.getMessage}")
      // topic removed entirely: the error names the missing log, not a
      // generic "not published"
      BusRegistry.remove(topic)
      val gone = intercept[IllegalStateException] {
        stream.planInputPartitions(BusOffset(0), BusOffset(2))
      }
      assert(gone.getMessage.contains("checkpoint"),
        s"want the checkpoint replay named: ${gone.getMessage}")
    } finally BusRegistry.remove(topic)
  }
}
