package graft

import graft.plans.CosineBandedJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §7.6 optimizer-rule suite: the banded-join rewrites must (a) FIRE — the
  * optimized plan shows the band equi-join instead of a nested loop — and
  * (b) preserve their declared semantics (exact for Hamming, the banded
  * definition for cosine), checked against independent formulations that
  * the rules cannot rewrite. */
class RewriteSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("opt_hamming_rewrite: rule fires — banded equi-join, no nested loop") {
    val df = SparkEntry.queries("opt_hamming_rewrite")(spark, d)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("__graft_band"), s"rule did not fire:\n$opt")
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin"),
      s"banded join still nested-loop:\n$phys")
  }

  test("Hamming rewrite is EXACT: equals llm_simhash's independently banded pairs") {
    // llm_simhash builds the banded plan by hand (equi-join inside, so the
    // rule never touches it); opt_hamming_rewrite relies on the rule to
    // band the naive nested-loop form. Pigeonhole says both must produce
    // the identical pair set.
    val viaRule = SparkEntry.queries("opt_hamming_rewrite")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byHand = SparkEntry.queries("llm_simhash")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaRule === byHand)
    assert(viaRule.nonEmpty, "no pairs at sf0.001 — vacuous test")
  }

  test("cosine rewrite is gated: conf off leaves the exact nested-loop plan") {
    val naive = naiveCosineJoin()
    assert(spark.conf.getOption(CosineBandedJoin.ConfKey).isEmpty)
    val opt = naive.queryExecution.optimizedPlan.toString
    assert(!opt.contains("__graft_band"),
      s"cosine rule fired without opt-in:\n$opt")
  }

  test("cosine rewrite fires under the conf and matches the banded definition") {
    val viaRule = SparkEntry.queries("opt_cosine_rewrite")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // independent banded-definition twin, built WITHOUT the rule (conf is
    // unset here): exact pairs restricted by an explicit
    // exists-matching-band predicate over sign bits
    val e = Tables.embeddings(spark, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val bandMatch = expr(
      """exists(sequence(0, 15), j ->
           slice(transform(a_emb, x -> x > 0F), 4*j + 1, 4)
             = slice(transform(b_emb, x -> x > 0F), 4*j + 1, 4))""")
    val twin = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", call_function("graft_cosine", col("a_emb"), col("b_emb")))
      .filter(col("cos") >= 0.3 && bandMatch)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaRule === twin)
    assert(viaRule.nonEmpty, "no banded pairs at sf0.001 — vacuous test")
    // and the banding actually pruned something vs the exact answer
    // (precision is 1.0 by the confirm; recall < 1 is the declared price)
    val exact = SparkEntry.queries("llm_neardup_embedding")(spark, d).count()
    assert(viaRule.size <= exact)
  }

  test("cosine rewrite: banded join runs hash-partitioned inside whole-stage codegen") {
    // ADVICE r4: pin the PHYSICAL shape of the rewritten path so a future
    // expression change that silently knocks the join out of codegen (or
    // back to a nested loop) fails here instead of surfacing as a bench
    // regression. Executes the join (AQE finalizes the plan) and asserts
    // the band hash join and the graft_cosine confirm both sit inside a
    // WholeStageCodegen stage (the `*(n)` node prefix).
    val e = Tables.embeddingsWide(spark, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    spark.conf.set(CosineBandedJoin.ConfKey, "true")
    try {
      val df = a.join(b, col("a_id") < col("b_id") &&
          call_function("graft_cosine", col("a_emb"), col("b_emb")) >= 0.3)
        .select(col("a_id"), col("b_id"),
          round(call_function("graft_cosine", col("a_emb"), col("b_emb")), 4).as("cos"))
      // collect() drives df's OWN QueryExecution (count() would build a
      // separate aggregate QE and leave this one un-finalized under AQE)
      df.collect()
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin"),
        s"banded join degraded to a nested loop:\n$phys")
      val hashJoinLine = phys.linesIterator
        .find(l => l.contains("HashJoin") && l.contains(plans.BandedJoins.BandCol))
      assert(hashJoinLine.exists(_.contains("*(")),
        s"band hash join left whole-stage codegen:\n$phys")
      val cosineProject = phys.linesIterator
        .find(l => l.contains("Project") && l.contains("graft_cosine"))
      assert(cosineProject.exists(_.contains("*(")),
        s"graft_cosine projection left whole-stage codegen:\n$phys")
    } finally spark.conf.unset(CosineBandedJoin.ConfKey)
  }

  test("cosine rewrite fires on DOUBLE arrays too (element-typed sign bits)") {
    // graft_cosine accepts array<double> since r4; the rule's sign-bit
    // signature must compare against an element-typed zero (a float
    // literal against double elements fails type-check POST-analysis and
    // crashes the query the instant the opt-in conf is set)
    val e = Tables.embeddings(spark, d)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS emb")
    val a = e.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("emb").as("b_emb"))
    spark.conf.set(CosineBandedJoin.ConfKey, "true")
    try {
      val df = a.join(b, col("a_id") < col("b_id") &&
          call_function("graft_cosine", col("a_emb"), col("b_emb")) >= 0.3)
        .select(col("a_id"), col("b_id"),
          round(call_function("graft_cosine", col("a_emb"), col("b_emb")), 4).as("cos"))
      assert(df.queryExecution.optimizedPlan.toString.contains("__graft_band"),
        "rule did not fire on double arrays")
      val viaDouble = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // float→double is exact, so the double-array banded result must equal
      // the float-array one bit-for-bit
      val viaFloat = SparkEntry.queries("opt_cosine_rewrite")(spark, d)
        .filter(col("a_id") < 1000) // same declared subset — embeddings at sf0.001 are all < 1000
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaDouble === viaFloat)
      assert(viaDouble.nonEmpty, "no banded pairs — vacuous test")
    } finally spark.conf.unset(CosineBandedJoin.ConfKey)
  }

  private def naiveCosineJoin() = {
    val e = Tables.embeddings(spark, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id") &&
        call_function("graft_cosine", col("a_emb"), col("b_emb")) >= 0.3)
      .select(col("a_id"), col("b_id"),
        round(call_function("graft_cosine", col("a_emb"), col("b_emb")), 4).as("cos"))
  }
}
