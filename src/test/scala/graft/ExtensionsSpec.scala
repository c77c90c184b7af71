package graft

import org.scalatest.funsuite.AnyFunSuite

/** The production registration path: TestSpark's session is built with
  * spark.sql.extensions=graft.GraftExtensions, so graft_cosine must resolve
  * from SQL text with no per-session register() call. */
class ExtensionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("graft_cosine is injected via SparkSessionExtensions") {
    val r = spark.sql(
      """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                    array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c
        |""".stripMargin).collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("AsOfJoinStrategy rides the injected planner-strategy path") {
    // Graft.register (the imperative path) registers the strategy via
    // experimental.extraStrategies instead, so a planned AsOfJoin alone
    // cannot prove injection worked — assert the extensions-built session
    // carries it in extraPlanningStrategies directly.
    assert(spark.sessionState.planner.extraPlanningStrategies
      .contains(graft.plans.AsOfJoinStrategy),
      "planner strategy missing from the SparkSessionExtensions path")
  }

  test("graft_pos_tokenize is injected and plans as a native Generate node") {
    // resolves from SQL text with no per-session register() call, including
    // the LATERAL VIEW spelling a SQL user would reach for
    val rows = spark.sql(
      """SELECT pos, word
        |FROM (SELECT 'a b  c' AS t)
        |LATERAL VIEW graft_pos_tokenize(t) g AS pos, word
        |ORDER BY pos""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((0, "a"), (1, "b"), (2, ""), (3, "c")),
      "split semantics must match split(text, ' ') incl. empty tokens")
    val df = SparkEntry.queries("udtf_custom")(spark, TestSpark.sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate") && p.contains("graft_pos_tokenize"),
      s"custom generator must plan as a Generate node:\n$p")
  }

  test("udtf_custom equals its posexplode twin row-for-row") {
    val d = TestSpark.sfDir
    val custom = SparkEntry.queries("udtf_custom")(spark, d)
    val builtin = SparkEntry.queries("udtf_generator")(spark, d)
    assert(custom.columns.toSeq === builtin.columns.toSeq)
    assert(custom.exceptAll(builtin).isEmpty && builtin.exceptAll(custom).isEmpty,
      "custom Generator output diverged from posexplode(split) twin")
  }

  test("injected expression participates in codegen over a real table") {
    val d = TestSpark.sfDir
    Tables.embeddings(spark, d).createOrReplaceTempView("emb_ext_test")
    val rows = spark.sql(
      """SELECT a.vec_id, graft_cosine(a.embedding, b.embedding) AS c
        |FROM emb_ext_test a JOIN emb_ext_test b ON b.vec_id = a.vec_id
        |WHERE a.vec_id < 10 ORDER BY a.vec_id""".stripMargin).collect()
    assert(rows.length === 10)
    assert(rows.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }
}
