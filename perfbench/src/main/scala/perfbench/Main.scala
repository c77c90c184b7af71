package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Benchmark JVM: one workload, one closed loop, one caller.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inputsDir> <outDir>
  *
  * Set-up (session start, the stores the workload's calls build, one
  * untimed warm-up round) is timed from JVM start to the first timed
  * operation (the warm-up round is also where key workloads write the
  * outputs the checker reads). Then whole rounds of the workload's operations run, each
  * round in a seeded order, for the whole number of rounds that ends
  * nearest to `seconds`. Every operation
  * is timed to full materialization of all its output columns. What the
  * checker reads is written to `outDir` outside the timed region, with
  * the metrics in `outDir/result.json`.
  */
object Main {
  final case class OpRec(id: Int, name: String, start: Double, end: Double,
                         ok: Boolean, inputRows: Long)

  /** What one operation does: build its frame(s) inside `ctx.construct`,
    * run the action inside `ctx.exec`; the return value is the count of
    * input rows it consumed when that is known up front (0 otherwise). */
  final case class Op(name: String, run: Ctx => Long)

  final class Ctx(val opId: Int, spans: ArrayBuffer[Span]) {
    private def span[T](name: String)(f: => T): T = {
      val s = Clock.nowMs
      try f finally spans += Span(spans.size, name, s, Clock.nowMs, -1, opId)
    }
    def construct[T](f: => T): T = span("ops.construct")(f)
    def exec[T](f: => T): T = span("exec")(f)
  }

  trait Workload {
    def ops: Seq[Op]
    /** Run the warm-up round; a workload may keep its outputs for the
      * checker from it. */
    def warmup(out: File, run: => Unit): Unit = run
    /** Write what the checker compares, outside the timed region. */
    def dump(out: File): Unit
    /** Pairs the dedup calls of one round confirmed (dedup workload only). */
    def confirmedPairs: Long = 0L
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fewest measured rounds: the first and at least two after it. */
  val MinRounds = 3

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputs, outDir) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val out = new File(outDir)
    out.mkdirs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = session(new File(outDir).getParent)
    val sessionS = (Clock.nowMs - jvmStart) / 1000.0
    val rec = new Recorder(traced)
    spark.listenerManager.register(rec.execListener)
    spark.streams.addListener(rec.streamListener)
    if (traced) spark.sparkContext.addSparkListener(rec.sparkListener)

    val wl: Workload = workload match {
      case "tweet_store" => new Workloads.Keys(spark, s"$inputs/store", Workloads.StoreKeys)
      case "corpus_dedup" => new Workloads.CorpusDedup(spark, s"$inputs/corpus")
      case other => sys.error(s"unknown workload $other")
    }

    val spans = ArrayBuffer.empty[Span]
    val recs = ArrayBuffer.empty[OpRec]
    val errors = ArrayBuffer.empty[String]
    val probeNs = ArrayBuffer.empty[Double]
    var framesReleased = 0L
    var nextOp = 0
    def runOp(op: Op): OpRec = {
      val id = nextOp
      nextOp += 1
      val s = Clock.nowMs
      val (ok, rows) =
        try (true, op.run(new Ctx(id, spans)))
        catch { case e: Throwable =>
          errors += s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          (false, 0L)
        }
      val r = OpRec(id, op.name, s, Clock.nowMs, ok, rows)
      System.err.println(f"[perfbench] op ${op.name} ${r.end - r.start}%.1f ms${if (ok) "" else " FAILED"}")
      spans += Span(spans.size, op.name, r.start, r.end, -1, id)
      // between operations, as a long-lived session would: release the
      // engine's per-call cached frames and any cache a key left behind
      framesReleased += graft.api.Graft.clearCaches()
      spark.catalog.clearCache()
      // outside every timed interval: one sample of the host's memory speed
      probeNs += HostProbe.sample()
      r
    }

    // ---- set-up: one untimed warm-up round builds every store the
    // workload's calls touch
    val ops = wl.ops
    val warm = ArrayBuffer.empty[OpRec]
    wl.warmup(out, ops.foreach(op => warm += runOp(op)))
    val setupS = (Clock.nowMs - jvmStart) / 1000.0
    spans.clear()
    probeNs.clear()
    framesReleased = 0L

    // ---- measured window
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val w0 = Clock.nowMs
    // at least three rounds, then stop at the round boundary nearest to
    // `seconds`. The JIT is still compiling through the first round after
    // the warm-up (measured: it ran 15-40% slower than later rounds), so
    // the end-to-end metrics are medians over the rounds after it
    val roundMs = ArrayBuffer.empty[Double]
    while (roundMs.size < MinRounds || Clock.nowMs - w0 + roundMs.last / 2 < secondsS.toDouble * 1000) {
      val r0 = Clock.nowMs
      val order = new scala.util.Random(seed * 1000 + roundMs.size).shuffle(ops)
      order.foreach(op => recs += runOp(op))
      roundMs += Clock.nowMs - r0
    }
    val wallMs = Clock.nowMs - w0
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    rec.drain()

    // rows the stream micro-batches of one op consumed
    val progress = rec.progress.asScala.toSeq
    def streamRows(r: OpRec): Long =
      progress.filter(p => p.start >= r.start && p.start <= r.end).map(_.inputRows).sum

    // ---- outputs for the checker (outside the timed region)
    wl.dump(out)

    val m = Metrics.compute(recs.toSeq, ops.size, spans.toSeq, rec, wallMs, probeNs.toSeq, setupS,
      traced, framesReleased, gcMs, heapPeakMb, wl.confirmedPairs)
    val json = Json.obj(
      "workload" -> workload, "seed" -> seed, "rounds" -> roundMs.size, "session_s" -> sessionS,
      "ops_per_round" -> ops.size,
      "attempted" -> recs.size, "failed" -> recs.count(!_.ok),
      "errors" -> errors.toSeq, "metrics" -> m,
      "warmup_ops" -> warm.map(r => Seq(r.name, r.end - r.start, r.ok, streamRows(r))),
      "ops" -> recs.map(r => Seq(r.name, r.end - r.start, r.ok, streamRows(r))))
    Files.writeString(Paths.get(s"$outDir/result.json"), json)
    if (traced)
      Files.writeString(Paths.get(s"$outDir/trace.json"), Trace.spansJson(spans.toSeq, rec))
    spark.stop()
  }
}

/** The host's memory speed, sampled between operations. On a shared host
  * the last-level cache and memory slow down by up to half for minutes at
  * a time while other tenants are busy (measured: sets of six to ten runs
  * spread 15-33 % while steal time stayed under 3 %), and the program's
  * operations slow down with them. A dependent random walk over a 32 MiB table, larger than a
  * core's cache and a good part of the shared one, times the latency of
  * one access; the end-to-end times are scaled by its median over the
  * measured window to a host whose walk reads `ReferenceNs`. */
object HostProbe {
  val ReferenceNs = 200.0
  private val Slots = 8 << 20
  private val Steps = 250000
  /** One cycle through every slot in a seeded random order (Sattolo). */
  private lazy val next: Array[Int] = {
    val a = Array.range(0, Slots)
    val rnd = new scala.util.Random(7)
    var i = Slots - 1
    while (i > 0) {
      val j = rnd.nextInt(i)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  @volatile private var sink = 0

  /** Nanoseconds per access of one walk. */
  def sample(): Double = {
    val walk = next
    val t = System.nanoTime()
    var p = 0
    var k = 0
    while (k < Steps) { p = walk(p); k += 1 }
    val ns = (System.nanoTime() - t).toDouble / Steps
    sink = p
    ns
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Some(x) => apply(x)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case r: Row => apply(r.toSeq)
    case d: java.math.BigDecimal => d.toPlainString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${apply(v)}" }.mkString("{", ",", "}")
}
