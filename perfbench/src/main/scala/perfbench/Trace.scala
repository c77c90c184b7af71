package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock helper: epoch milliseconds with sub-millisecond resolution,
  * on the same clock Spark's listener events carry. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One closed interval of an operation: the op as a whole, its DataFrame
  * construction, or its action. Listener events are attributed to the op
  * whose interval holds their timestamp: the workload is a closed loop, so
  * at most one op is in flight at any time. */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int)

/** Events the listeners collect, kept in memory and attributed to ops once
  * the run has ended. The light listeners (query executions and stream
  * progress) feed end-to-end metrics and are always on; the task-level
  * SparkListener only runs in a traced run. */
object Recorder {
  final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitted: Double, var done: Double)
  final case class Task(stage: Int, launch: Double, finish: Double, runMs: Long,
                        cpuMs: Double, gcMs: Long, shRead: Long, shWrite: Long, spill: Long)
  final case class Exec(start: Double, phases: Map[String, Double],
                        plan: SparkPlan)
  final case class Progress(start: Double, durations: Map[String, Long], inputRows: Long,
                            stateRows: Long, stateBytes: Long, lateDropped: Long,
                            runId: String)

}

final class Recorder(traced: Boolean) {
  import Recorder._
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val streamStarts = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  @volatile var lastEvent: Double = Clock.nowMs
  private def touch(): Unit = lastEvent = Clock.nowMs

  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageById = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Stage]()
  @volatile var jobsOpen = 0

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time.toDouble, -1, e.stageIds)
      jobById.put(e.jobId, j); jobs.add(j); synchronized(jobsOpen += 1); touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobById.get(e.jobId)).foreach(_.end = e.time.toDouble)
      synchronized(jobsOpen -= 1); touch()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      val s = Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs), -1)
      stageById.put((i.stageId, i.attemptNumber()), s); stages.add(s); touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageById.get((i.stageId, i.attemptNumber())))
        .foreach(_.done = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(Task(e.stageId, info.launchTime.toDouble,
        info.finishTime.toDouble, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      touch()
    }
  }

  val execListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val phases = ph.map { case (k, v) => k -> v.durationMs.toDouble }
      val start = ph.values.map(_.startTimeMs).minOption
        .map(_.toDouble).getOrElse(Clock.nowMs - durationNs / 1e6)
      execs.add(Exec(start, phases, qe.executedPlan))
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  private def isoMs(s: String): Double =
    java.time.Instant.parse(s).toEpochMilli.toDouble

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamStarts.put(e.runId.toString, isoMs(e.timestamp)); touch()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      progress.add(Progress(isoMs(p.timestamp), d, p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum, p.runId.toString))
      touch()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
  }

  /** Wait (bounded) until the asynchronous listener bus has gone quiet and
    * every started job has ended, so the counters are complete. */
  def drain(): Unit = {
    val deadline = Clock.nowMs + 10000
    while (Clock.nowMs < deadline && (Clock.nowMs - lastEvent < 500 || (traced && jobsOpen > 0)))
      Thread.sleep(50)
  }
}

/** SQL-metric readers over an executed plan, seen through adaptive and
  * reused-exchange wrappers. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => (other +: other.children.flatMap(nodes)) ++
      other.subqueries.flatMap(nodes)
  }

  def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Candidate pairs of a dedup plan: output rows of the top-most
    * aggregation keyed by exactly (doc_a, doc_b). */
  def candidatePairs(p: SparkPlan): Long =
    nodes(p).collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.map(_.references.head.name) == Seq("doc_a", "doc_b") =>
        rows(a)
    }.getOrElse(0L)

  /** Pairs a search plan scores: output rows of the top-most join whose
    * output carries both the query and the corpus vector. */
  def scoredPairs(p: SparkPlan): Long =
    nodes(p).collectFirst {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if Set("q_emb", "n_emb").subsetOf(j.output.map(_.name).toSet) => rows(j)
    }.getOrElse(0L)
}

/** The traced run's span file: the benchmark's own op, construction and
  * action spans, plus the Spark jobs, stages and stream micro-batches the
  * listeners saw, each linked to its parent and to its operation id. */
object Trace {
  def spansJson(own: Seq[Span], rec: Recorder): String = {
    val all = scala.collection.mutable.ArrayBuffer.empty[Span]
    val opSpan = own.filter(s => s.name != "ops.construct" && s.name != "exec")
      .map(s => s.op -> s.id).toMap
    all ++= own.map(s => if (s.name == "ops.construct" || s.name == "exec")
      s.copy(parent = opSpan.getOrElse(s.op, -1)) else s)
    def within(t: Double, cands: Seq[Span]) = cands.find(s => t >= s.start && t <= s.end)
    val inner = own.filter(s => s.name == "ops.construct" || s.name == "exec")
    val ops = own.filter(s => opSpan.values.toSet(s.id))
    var next = own.size
    val jobSpan = scala.collection.mutable.Map.empty[Int, Span]
    rec.jobs.asScala.toSeq.sortBy(_.start).foreach { j =>
      val p = within(j.start, inner).orElse(within(j.start, ops))
      p.foreach { ps =>
        val s = Span(next, s"job ${j.id}", j.start, j.end max j.start, ps.id, ps.op)
        next += 1; all += s; j.stages.foreach(st => jobSpan(st) = s)
      }
    }
    rec.stages.asScala.toSeq.sortBy(_.submitted).foreach { st =>
      jobSpan.get(st.id).foreach { js =>
        all += Span(next, s"stage ${st.id}.${st.attempt}", st.submitted,
          st.done max st.submitted, js.id, js.op); next += 1
      }
    }
    rec.progress.asScala.toSeq.sortBy(_.start).foreach { p =>
      within(p.start, ops).foreach { os =>
        all += Span(next, "stream.batch", p.start,
          p.start + p.durations.getOrElse("triggerExecution", 0L), os.id, os.op); next += 1
      }
    }
    all.map(s => Json.obj("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op)).mkString("[\n", ",\n", "\n]\n")
  }
}
