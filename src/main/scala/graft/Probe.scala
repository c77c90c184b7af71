package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only measurement probe (guide §1): runs the named contract keys
  * once (cold, after the standard Bench warmup scaffolding is assumed
  * built by a prior run in the same sfDir) and prints a per-JOB timing
  * breakdown — job id, duration, stage count, description/callsite — so
  * the cost of construction-time actions (eager checkpoints, scalar
  * collects, broadcast builds) inside a single key is visible without
  * the Spark UI. Not part of the driver contract; used by the r20
  * optimization rounds. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session()

    val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobStart(js.jobId) = (System.nanoTime(), desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        jobStart.remove(je.jobId).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          lines.add(f"    job ${je.jobId}%3d  ${ms}%8.1f ms  $desc")
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        val rdds = si.rddInfos.map(_.name).filter(_ != null).distinct.mkString("|").take(180)
        lines.add(f"      stage ${si.stageId}%3d  ${ms}%6d ms  tasks=${si.numTasks}%3d  rdds=$rdds")
      }
    })

    // one throwaway action to absorb first-job scheduling costs
    spark.range(1000000).selectExpr("sum(id)").collect()

    val repeats = sys.env.getOrElse("PROBE_REPEATS", "2").toInt
    val keys =
      if (args.sameElements(Array("ALL")))
        SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).toSeq.sorted
      else args.toSeq
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      for (r <- 1 to repeats) {
        lines.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        try spark.catalog.clearCache() catch { case _: Throwable => () }
        println(f"== $k run $r: $dt%.3f s")
        lines.forEach(l => println(l))
      }
    }
    spark.stop()
  }
}
