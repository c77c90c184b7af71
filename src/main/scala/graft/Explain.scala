package graft

/** Plan-audit tool: prints the formatted physical plan of the named contract
  * queries (all batch keys if none given). Used to check the scale
  * checklist — broadcast where intended, PushedFilters/ReadSchema at scans,
  * WholeStageCodegen spans, no BatchEvalPython/fallback markers. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSpark.session()
    val keys =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.filterNot(_.startsWith("stream_")).toSeq.sorted
    keys.foreach { k =>
      println(s"\n========== $k ==========")
      try SparkEntry.queries(k)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
