package perfbench

import scala.jdk.CollectionConverters._

import Main.OpRec

/** End-to-end and per-layer metrics of one run. Listener events are
  * attributed to the op whose interval holds their start time. */
object Metrics {
  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Geometric mean over the workload's operations of each one's median
    * execution: every operation weighs the same however long it runs. */
  private def opGmean(ok: Seq[OpRec]): Double = {
    val mid = ok.groupBy(_.name).values.map(rs => median(rs.map(r => r.end - r.start)))
    if (mid.isEmpty) 0.0 else math.exp(mid.map(math.log).sum / mid.size)
  }

  /** End-to-end metrics are medians over the measured rounds after the
    * first, which the JIT still slows (measured: by 15-40 %), and are
    * scaled to the reference host speed (see `HostProbe`); the unscaled
    * figures and the probe's median are reported beside them. */
  def compute(recs: Seq[OpRec], opsPerRound: Int, spans: Seq[Span], rec: Recorder, wallMs: Double,
              probeNs: Seq[Double], setupS: Double, traced: Boolean, framesReleased: Long,
              gcMs: Long, heapPeakMb: Double, confirmedPairs: Long): Map[String, Double] = {
    val steady = recs.grouped(opsPerRound).toSeq.drop(1)
    val ok = steady.flatten.filter(_.ok)
    val opMs = opGmean(ok)
    val opsPerS = ok.size.toDouble / steady.size /
      (median(steady.map(_.map(r => r.end - r.start).sum)) / 1000.0)
    val hostNs = median(probeNs)
    val scale = HostProbe.ReferenceNs / hostNs
    val e2e = Map(
      "setup_s" -> setupS,
      "op_ms_gmean_refhost" -> opMs * scale,
      "ops_per_s_refhost" -> opsPerS / scale,
      "op_ms_gmean" -> opMs,
      "ops_per_s" -> opsPerS,
      "host.mem_access_ns" -> hostNs)
    if (!traced) e2e else e2e ++ layers(recs, spans, rec, wallMs,
      framesReleased, gcMs, heapPeakMb, confirmedPairs)
  }

  private def layers(recs: Seq[OpRec], spans: Seq[Span], rec: Recorder, wallMs: Double,
                     framesReleased: Long, gcMs: Long, heapPeakMb: Double,
                     confirmedPairs: Long): Map[String, Double] = {
    def opOf(t: Double): Option[OpRec] = recs.find(r => t >= r.start && t <= r.end)
    val execs = rec.execs.asScala.toSeq.flatMap(e => opOf(e.start).map(_ -> e))
    val progress = rec.progress.asScala.toSeq.flatMap(p => opOf(p.start).map(_ -> p))
    val n = recs.size.toDouble.max(1)
    val inOps = (t: Double) => recs.exists(r => t >= r.start && t <= r.end)
    val construct = spans.filter(_.name == "ops.construct")
    val action = spans.filter(_.name == "exec")
    val inConstruct = (t: Double) => construct.exists(s => t >= s.start && t <= s.end)
    val jobs = rec.jobs.asScala.toSeq.filter(j => inOps(j.start))
    val stages = rec.stages.asScala.toSeq.filter(s => inOps(s.submitted))
    val stageSet = stages.map(_.id).toSet
    val submitted = stages.map(s => s.id -> s.submitted).toMap
    val tasks = rec.tasks.asScala.toSeq.filter(t => stageSet(t.stage))
    val phase = (k: String) => execs.map(_._2.phases.getOrElse(k, 0.0)).sum / n
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).max(1.0))
      d.max / median(d)
    }.maxOption.getOrElse(1.0)

    // streaming: micro-batches of the measured ops
    val prog = progress.map(_._2)
    val dur = (k: String) => prog.map(_.durations.getOrElse(k, 0L)).sum.toDouble / n
    val trig = prog.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val startMs = prog.groupBy(_.runId).flatMap { case (run, ps) =>
      Option(rec.streamStarts.get(run)).map(s => ps.map(_.start).min - s)
    }

    // dedup and similarity: per call, from the op names and their plans
    def opMs(name: String) = {
      val l = recs.filter(r => r.ok && r.name == name).map(r => r.end - r.start)
      if (l.isEmpty) 0.0 else l.sum / l.size
    }
    val rounds = recs.count(_.name == recs.head.name).toDouble.max(1)
    val pairOps = Set("dedup.minhash", "dedup.simhash", "dedup.containment")
    val candidates = execs.filter(e => pairOps(e._1.name))
      .map(e => Plans.candidatePairs(e._2.plan)).sum / rounds
    val confirmed = confirmedPairs.toDouble
    val scored = execs.filter(_._1.name.startsWith("similarity."))
      .map(e => Plans.scoredPairs(e._2.plan)).sum / rounds
    val dedupMs = recs.filter(_.name.startsWith("dedup.")).map(r => r.end - r.start).sum
    val searchMs = recs.filter(_.name.startsWith("similarity.")).map(r => r.end - r.start).sum
    val dedupRows = recs.filter(r => r.name == "dedup.exact").map(_.inputRows).sum
    val searchRows = recs.filter(_.name.startsWith("similarity.")).map(_.inputRows).sum

    val taskRun = tasks.map(_.runMs).sum.toDouble
    Map(
      "ops.construct_ms" -> construct.map(s => s.end - s.start).sum / n,
      "ops.construct_jobs" -> jobs.count(j => inConstruct(j.start)) / n,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "exec.ms" -> action.map(s => s.end - s.start).sum / n,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> tasks.size / n,
      "exec.task_run_ms" -> taskRun / n,
      "exec.task_cpu_ms" -> tasks.map(_.cpuMs).sum / n,
      "exec.task_gc_ms" -> tasks.map(_.gcMs).sum.toDouble / n,
      "exec.task_wait_ms" -> (if (tasks.isEmpty) 0.0 else
        tasks.map(t => (t.launch - submitted(t.stage)).max(0.0)).sum / tasks.size),
      "exec.slot_busy_ratio" -> taskRun / (wallMs * 4),
      "exec.shuffle_read_bytes" -> tasks.map(_.shRead).sum.toDouble / n,
      "exec.shuffle_write_bytes" -> tasks.map(_.shWrite).sum.toDouble / n,
      "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble / n,
      "exec.task_skew" -> skew,
      "stream.batches" -> prog.size / n,
      "stream.input_rows" -> prog.map(_.inputRows).sum / n,
      "stream.start_ms" -> (if (startMs.isEmpty) 0.0 else startMs.sum / startMs.size),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.get_batch_ms" -> dur("getBatch"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.batch_ms_p50" -> median(trig),
      "stream.batch_ms_p90" -> pct(trig, 0.9),
      "stream.state_rows" -> prog.map(_.stateRows).sum / n,
      "stream.state_bytes" -> prog.map(_.stateBytes).sum / n,
      "stream.late_rows_dropped" -> prog.map(_.lateDropped).sum / n,
      "dedup.exact_ms" -> opMs("dedup.exact"),
      "dedup.minhash_ms" -> opMs("dedup.minhash"),
      "dedup.simhash_ms" -> opMs("dedup.simhash"),
      "dedup.containment_ms" -> opMs("dedup.containment"),
      "dedup.candidate_pairs" -> candidates,
      "dedup.confirmed_pairs" -> confirmed,
      "dedup.confirm_ratio" -> (if (candidates > 0) confirmed / candidates else 0.0),
      "dedup.docs_per_s" -> (if (dedupMs > 0) dedupRows / (dedupMs / 1000.0) else 0.0),
      "similarity.knn_ms" -> opMs("similarity.knn"),
      "similarity.lsh_ms" -> opMs("similarity.lsh"),
      "similarity.pairs_scored" -> scored,
      "similarity.queries_per_s" -> (if (searchMs > 0) searchRows / (searchMs / 1000.0) else 0.0),
      "caches.frames_released" -> framesReleased / n,
      "jvm.gc_ms" -> gcMs.toDouble,
      "jvm.heap_used_peak_mb" -> heapPeakMb)
  }
}
