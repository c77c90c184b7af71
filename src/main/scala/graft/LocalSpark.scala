package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder of the mains (Verify, Bench, Explain,
  * Probe) and the tests: `local[cpus]` with as many shuffle partitions,
  * UTC session time, no UI, WARN logging, and `graft.GraftExtensions` with
  * its checkpoint file manager unless `extensions = false` (the session
  * `Graft.register` serves). */
object LocalSpark {
  /** Task slots: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(cpus: Int = LocalSpark.cpus, extensions: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (extensions) {
      val (ckptKey, ckptManager) = GraftExtensions.checkpointFileManager
      b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
        .config(ckptKey, ckptManager)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
