package graft

import graft.api.Graft
import graft.plans.{AsOfJoinExec, AsOfJoinStrategy}
import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The imperative registration path: on a session built WITHOUT
  * `spark.sql.extensions`, the keys that need the engine's functions,
  * rules and strategies work only because `SparkEntry.queries` runs
  * `Graft.register` on every dispatch. Has a forked JVM of its own
  * (build.sbt testGrouping); every other suite shares TestSpark's
  * extension-built session. */
class ImperativeRegistrationSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = LocalSpark.session(cpus = 4, extensions = false)

  /** Runs `key` twice; both runs must return the same non-empty rows. */
  private def runTwice(key: String) = {
    val first = SparkEntry.queries(key)(spark, TestSpark.sfDir).collect()
    val df = SparkEntry.queries(key)(spark, TestSpark.sfDir)
    assert(first.nonEmpty && df.collect().toSeq === first.toSeq, key)
    df
  }

  test("expr_custom_cosine: graft_cosine resolves and equals its built-in twin") {
    assert(!spark.sessionState.planner.extraPlanningStrategies.contains(AsOfJoinStrategy))
    assert(runTwice("expr_custom_cosine").collect().forall(r => r.getDouble(1) == r.getDouble(2)))
  }

  test("udtf_custom: graft_pos_tokenize plans as a Generate node") {
    val p = runTwice("udtf_custom").queryExecution.executedPlan.toString
    assert(p.contains("Generate") && p.contains("graft_pos_tokenize"), p)
  }

  test("opt_hamming_rewrite: the rule bands the join") {
    val df = runTwice("opt_hamming_rewrite")
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_band"))
    assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("join_asof_native: the strategy plans AsOfJoinExec") {
    val plan = runTwice("join_asof_native").queryExecution.executedPlan
    assert(collect(plan) { case j: AsOfJoinExec => j }.size === 1, plan)
  }

  test("Dedup.minhashPairs / simhashPairs register their kernels themselves") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val mh = graft.api.Dedup.minhashPairs(docs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = graft.ops.LlmOps.shingledOf(docs)
    val allPairs = sh.select(col("doc_id").as("a"), col("sh").as("sa"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sb")), col("a") < col("b"))
      .filter(size(array_intersect(col("sa"), col("sb"))) >=
        lit(0.6) * size(array_union(col("sa"), col("sb"))))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(mh.nonEmpty && mh === allPairs)
    val sim = graft.api.Dedup.simhashPairs(docs).collect()
    assert(sim.nonEmpty && sim.forall(_.getLong(2) <= 4))
    Seq("graft_minhash", "graft_simhash").foreach(f =>
      assert(spark.catalog.functionExists(f), f))
  }

  test("Graft.register sets the checkpoint file manager unless the user chose one") {
    val key = LocalCheckpointFileManager.ConfKey
    // create() builds the manager only; nothing is written under root
    val root = new Path("file:/graft-cfm-reg/ckpt")
    def managerOf(s: SparkSession) = CheckpointFileManager.create(root, s.sessionState.newHadoopConf())
    // a new session starts from the SparkConf, which this one never set
    val plain = spark.newSession()
    assert(!managerOf(plain).isInstanceOf[LocalCheckpointFileManager])
    Graft.register(plain)
    assert(managerOf(plain).isInstanceOf[LocalCheckpointFileManager])
    val chosen = spark.newSession()
    chosen.conf.set(key, classOf[FileSystemBasedCheckpointFileManager].getName)
    Graft.register(chosen)
    assert(managerOf(chosen).isInstanceOf[FileSystemBasedCheckpointFileManager])
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    hadoopConf.set(key, classOf[FileSystemBasedCheckpointFileManager].getName)
    try {
      val viaHadoop = spark.newSession()
      Graft.register(viaHadoop)
      assert(viaHadoop.conf.getOption(key).isEmpty)
      assert(managerOf(viaHadoop).isInstanceOf[FileSystemBasedCheckpointFileManager])
    } finally hadoopConf.unset(key)
  }

  test("repeated dispatch registers each rule and strategy exactly once") {
    assert(spark.experimental.extraOptimizations === GraftExtensions.rules)
    assert(spark.experimental.extraStrategies === GraftExtensions.strategies)
  }
}
