package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per test JVM (repeated session churn dominates
  * test time otherwise). Built with `graft.GraftExtensions`, the
  * production registration path: ExtensionsSpec asserts graft_cosine
  * resolves without any register() call. */
object TestSpark {
  lazy val spark: SparkSession = LocalSpark.session(cpus = 4)

  val sfDir = "/root/testdata/sf0.001"
}
