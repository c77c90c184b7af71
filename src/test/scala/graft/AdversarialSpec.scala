package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-input hardening over the public facades (r17 verdict #3):
  * the planted degenerate shapes production data actually serves —
  * empty frames, empty/whitespace text, all-null keys, single-row and
  * constant cohorts, NaN/NULL scores, zero vectors, duplicate result
  * rows, degenerate LSH buckets. The session runs ANSI SQL mode (Spark 4
  * default), so an unguarded division on a degenerate group is a RUNTIME
  * CRASH, not a quiet NaN — each test below is a shape that either
  * crashed or silently misreported before the r18 guards (ttestOf,
  * giniOf, punct_ratio, expectOf, profileOf) or pins a guard that
  * already existed (mad=0, kappa, NaN decile bucketing, bucket caps).
  * Facade contracts on degenerate input: crash NEVER; report NULL where
  * the statistic is genuinely undefined, 0/empty where the honest answer
  * is "nothing". */
class AdversarialSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def one(df: DataFrame) = df.collect().head

  // ---------------------------------------------------------------- Stats

  test("welchTTest: single-row cohorts return NULL variance/t/df, not a crash") {
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("c", "v")
    val r = one(graft.api.Stats.welchTTest(df, "c", "a", "b", "v"))
    assert(r.getLong(0) == 1L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 2.0) // means still exact
    assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7))
  }

  test("welchTTest: an empty cohort returns NULLs for that side, not a crash") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)).toDF("c", "v")
    val r = one(graft.api.Stats.welchTTest(df, "c", "a", "b", "v"))
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L)
    assert(r.isNullAt(3) && r.isNullAt(6)) // mean_b, t_stat
  }

  test("welchTTest: two constant cohorts (zero pooled variance) return NULL t, not a crash") {
    val df = Seq(("a", 1.0), ("a", 1.0), ("a", 1.0),
                 ("b", 2.0), ("b", 2.0)).toDF("c", "v")
    val r = one(graft.api.Stats.welchTTest(df, "c", "a", "b", "v"))
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0) // variances
    assert(r.isNullAt(6) && r.isNullAt(7))                 // t_stat, welch_df
  }

  test("gini: an all-zero cohort reports NULL (undefined), not a crash; a constant cohort reports 0") {
    val df = Seq(("z", 0.0, 1), ("z", 0.0, 2),
                 ("c", 5.0, 1), ("c", 5.0, 2)).toDF("g", "v", "t")
    val rows = graft.ops.AggOps.giniOf(df, "g", "v", "t")
      .orderBy("g").collect()
    assert(rows(0).getString(0) == "c" && rows(0).getDouble(2) == 0.0)
    assert(rows(1).getString(0) == "z" && rows(1).isNullAt(2))
  }

  test("madOutliers: a >50%-constant cohort (MAD = 0) flags nothing instead of everything") {
    val df = Seq(("k", 5.0), ("k", 5.0), ("k", 5.0), ("k", 99.0)).toDF("g", "v")
    val r = one(graft.api.Stats.madOutliers(df, "g", "v"))
    assert(r.getDouble(3) == 0.0 && r.getLong(4) == 0L) // mad, n_outliers
  }

  test("decileLift: planted NaN and NULL scores keep full row accounting (NaN top, NULL last)") {
    val rows = Seq(("a", Some(Double.NaN), 1), ("b", None: Option[Double], 0),
      ("c", Some(0.9), 1), ("d", Some(0.1), 0), ("e", Some(0.5), 1),
      ("f", Some(0.4), 0), ("g", Some(0.3), 1), ("h", Some(0.2), 0),
      ("i", Some(0.8), 1), ("j", Some(0.7), 0)).toDF("id", "score", "resp")
    val out = graft.api.Stats.decileLift(rows, "id", "score", "resp").collect()
    assert(out.length == 10 && out.map(_.getLong(1)).sum == 10L) // every row bucketed
    assert(out.forall(r => !r.getDouble(3).isNaN && !r.getDouble(4).isNaN))
  }

  test("ksTest: planted NULL values are excluded — same D as pre-dropping them") {
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", None),
                 ("b", Some(1.5)), ("b", None), ("b", Some(2.5))).toDF("tag", "value")
    val withNulls = one(graft.api.Stats.ksTest(df, "value", "tag", "a", "b"))
    val preDropped = one(graft.api.Stats.ksTest(
      df.filter(col("value").isNotNull), "value", "tag", "a", "b"))
    assert(withNulls == preDropped)
  }

  test("heavyHitters: an all-NULL value column yields an empty report, not a crash") {
    val df = Seq((1, None: Option[String]), (2, None), (3, None)).toDF("id", "v")
    assert(graft.api.Stats.heavyHitters(df, "v").collect().isEmpty)
  }

  // -------------------------------------------------------------- Quality

  test("Quality.expect: an empty frame reports 0 violations per rule, not NULL") {
    val df = Seq((1L, "x")).toDF("id", "s").filter(col("id") < 0)
    val out = graft.api.Quality.expect(df,
      Seq("id_positive" -> (col("id") <= 0), "s_nonempty" -> (length(col("s")) === 0)))
      .orderBy("rule").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("id_positive", 0L), ("s_nonempty", 0L)))
  }

  test("Quality.profile: an empty frame still reports one zero-count row per column") {
    val df = Seq((1L, "x")).toDF("id", "s").filter(col("id") < 0)
    val out = graft.api.Quality.profile(df, Seq("id", "s"), Set("id"))
      .orderBy("col_name").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(4) == 0L)
      assert(r.isNullAt(3)) // frac_null of nothing is undefined, not a crash
    }
  }

  test("Quality.kAnonymity: an all-NULL QI column is one re-identifiable group, not a crash") {
    val df = Seq((None: Option[String], 1), (None, 2), (None, 3)).toDF("qi", "x")
    val rows = graft.api.Quality.kAnonymity(df, Seq("qi"), ks = Seq(2, 5))
      .orderBy("k").collect()
    assert(rows.forall(_.getLong(1) == 3L)) // min_k = the null group's size
    assert(rows(1).getDouble(4) == 1.0)     // k=5: all rows below threshold
  }

  test("Quality.psi: a one-sided frame (no actual-period rows) stays finite via Haldane smoothing") {
    val df = Seq((1.0, true), (2.0, true), (3.0, true)).toDF("v", "is_exp")
    val r = one(graft.api.Quality.psi(df, "v", "is_exp", bandWidth = 1.0, nBands = 4))
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L)
    assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite)
  }

  test("Quality.tCloseness: duplicate thresholds are rejected up front with a clear message") {
    val df = Seq(("x", "y", 1L)).toDF("a", "b", "band")
    val e = intercept[IllegalArgumentException] {
      graft.api.Quality.tCloseness(df, Seq("a"), "band", 5, t100s = Seq(10, 10))
    }
    assert(e.getMessage.contains("bad t-closeness knobs"))
  }

  // ----------------------------------------------------------------- Text

  test("Text.qualityScore: empty and whitespace-only docs score without a crash, no NaN/NULL ratios") {
    val docs = Seq(("d1", ""), ("d2", "   "), ("d3", "hello, world!")).toDF("doc_id", "text")
    val out = graft.api.Text.qualityScore(docs).orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out.forall(r => !r.isNullAt(5) && !r.getDouble(5).isNaN)) // punct_ratio
    assert(out.forall(r => !r.isNullAt(6) && !r.getDouble(6).isNaN)) // quality
    assert(out(0).getDouble(5) == 0.0) // zero punctuation in zero chars
  }

  test("Text.langidEval: a single-class corpus gets kappa 0 (degenerate chance term), accuracy 1") {
    val docs = Seq(("d1", "en", "hello world this is english text"),
                   ("d2", "en", "more english words and english phrases here"))
      .toDF("doc_id", "lang", "text")
    val r = one(graft.api.Text.langidEval(docs))
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 0.0) // accuracy, kappa
  }

  test("Text.chunk: an empty doc still yields one (empty) chunk with exact offsets") {
    val out = graft.api.Text.chunk(Seq(("d1", "")).toDF("doc_id", "text")).collect()
    assert(out.length == 1 && out(0).getString(4) == "")
  }

  test("Text.tokenBudget: an empty corpus yields an empty verdict, not a crash") {
    val docs = Seq(("d1", "en", "x")).toDF("doc_id", "lang", "text")
      .filter(col("doc_id") === "zz")
    assert(graft.api.Text.tokenBudget(docs).collect().isEmpty)
  }

  // ---------------------------------------------------------------- Dedup

  test("Dedup.dedupe: empty-text docs produce no shingles, dedupe keeps them all") {
    val docs = Seq(("d1", ""), ("d2", ""),
      ("d3", "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    assert(graft.api.Dedup.dedupe(docs).count() == 3L)
  }

  test("Dedup.minhashPairs: a single-doc corpus has no pairs") {
    val docs = Seq(("d1", "some sufficiently long text for shingling to produce output"))
      .toDF("doc_id", "text")
    assert(graft.api.Dedup.minhashPairs(docs).collect().isEmpty)
  }

  test("Dedup.minhashPairs: a planted degenerate bucket over bucketCap is dropped, capped ⊆ uncapped") {
    val docs = (1 to 12).map(i =>
      (s"d$i", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"))
      .toDF("doc_id", "text")
    val uncapped = graft.api.Dedup.minhashPairs(docs).select("doc_a", "doc_b")
      .collect().map(_.mkString("|")).toSet
    assert(uncapped.size == 12 * 11 / 2) // identical docs: every pair found
    spark.conf.set(graft.ops.LlmOps.BandingBucketCapKey, "5")
    try {
      val capped = graft.api.Dedup.minhashPairs(docs).select("doc_a", "doc_b")
        .collect().map(_.mkString("|")).toSet
      assert(capped.subsetOf(uncapped))
      assert(capped.isEmpty) // every band of the clone family is hotter than 5
    } finally spark.conf.unset(graft.ops.LlmOps.BandingBucketCapKey)
  }

  test("Dedup.clusterStats: an all-singleton labeling is one honest size-1 row") {
    val labels = Seq(("d1", "d1"), ("d2", "d2"), ("d3", "d3")).toDF("doc_id", "cluster_id")
    val r = one(graft.api.Dedup.clusterStats(labels))
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L && r.getLong(3) == 0L)
  }

  // ----------------------------------------------------------- Similarity

  test("Similarity.knn: a zero query vector gets cos 0 against everything (guarded norm), never NaN") {
    val corpus = Seq(("c1", Array(1f, 0f)), ("c2", Array(0f, 1f)), ("c3", Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val q = Seq(("q0", Array(0f, 0f))).toDF("vec_id", "embedding")
    val out = graft.api.Similarity.knn(q, corpus, k = 3).collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getDouble(3) == 0.0))
  }

  test("Similarity.knn: an empty corpus yields no neighbors, not a crash") {
    val q = Seq(("q1", Array(1f, 0f))).toDF("vec_id", "embedding")
    val c = Seq(("c1", Array(1f, 0f))).toDF("vec_id", "embedding")
      .filter(col("vec_id") === "zzz")
    assert(graft.api.Similarity.knn(q, c, k = 3).collect().isEmpty)
  }

  test("Ingest.ewma: a null value contributes 0 with full weight even when it LEADS a block") {
    import org.apache.spark.sql.functions._
    // 17 rows (block size 8): row 9 — the FIRST row of block 1 — is null.
    // Pre-r18, the in-block sum of a null-led prefix was NULL and poisoned
    // the carry combine; the result must equal the direct one-window
    // formula with the null as a 0-contribution full-weight term.
    val q = 0.7
    val vals: Seq[Option[Double]] =
      (1 to 17).map(i => if (i == 9) None else Some(i * 1.0))
    val df = vals.zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "o", "v")
    val got = graft.api.Ingest.ewma(df, "k", "o", "v", alpha = 0.3)
      .orderBy("o").collect().map(_.getDouble(3))
    val expect = vals.indices.map { i =>
      val terms = (0 to i).map { j =>
        val w = math.pow(q, i - j)
        (vals(j).getOrElse(0.0) * w, w)
      }
      val e = terms.map(_._1).sum / terms.map(_._2).sum
      BigDecimal(e).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    got.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) <= 1e-4, s"row $i: got $g expect $e")
    }
  }

  test("Text.tokenBudget: null-text/lang rows survive the two-phase plan with token weight 0") {
    val docs = Seq(
      ("d1", "en", "one two three"),
      ("d2", null.asInstanceOf[String], null.asInstanceOf[String]),
      ("d3", "en", "four five"))
      .toDF("doc_id", "lang", "text")
    val out = graft.api.Text.tokenBudget(docs, budget = 100)
    assert(out.count() == 3L) // the null row is kept, not dropped by the bucket join
    val nullRow = out.filter(col("doc_id") === "d2").collect()(0)
    assert(nullRow.getAs[Boolean]("keep")) // zero tokens always fit the budget
  }

  test("Similarity.trainCentroids: a wrong-width corpus fails with the named contract, not an ANSI crash") {
    val tiny = Seq(("1", Array(1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.api.Similarity.trainCentroids(tiny, k = 1, iters = 1)
    }
    assert(e.getMessage.contains("64-dim"))
  }

  test("Similarity IVF facades: null vectors are inert — no crash, no phantom assignments") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(j => ((seed * 31 + j * 7) % 13 - 6).toFloat)
    val vecs = Seq(("1", vec(1)), ("2", vec(2)),
                   ("3", null.asInstanceOf[Array[Float]]), ("4", vec(4)))
      .toDF("vec_id", "embedding")
    val clean = vecs.filter(col("embedding").isNotNull)
    val cen = graft.api.Similarity.trainCentroids(clean, k = 2, iters = 1)
    // assignment of a null vector must not crash; its cell is whatever the
    // null-cos tie policy picks, but the NON-null assignments must equal
    // the clean corpus's
    val withNull = graft.api.Similarity.assignCells(vecs, cen).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    val cleanAsg = graft.api.Similarity.assignCells(clean, cen).collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    cleanAsg.foreach { case (id, c) => assert(withNull(id) == c) }
    // search over a corpus carrying a null vector: the null can never
    // outrank a real neighbor (null cos orders last)
    val res = graft.api.Similarity.ivfSearch(clean.filter(col("vec_id") === "1"),
      vecs, cen, k = 2).collect()
    assert(res.nonEmpty && res.forall(r =>
      r.getAs[String]("n_id") != "3" || r.isNullAt(r.fieldIndex("cos"))))
  }

  test("Similarity.mrr: duplicated approx rows cannot inflate the reciprocal rank") {
    val truth = Seq(("q1", "a"), ("q1", "b")).toDF("q_id", "n_id")
    val approxDup = Seq(("q1", "a", 2), ("q1", "a", 2), ("q1", "a", 2))
      .toDF("q_id", "n_id", "rk")
    val dup = one(graft.api.Similarity.mrr(truth, approxDup))
    val clean = one(graft.api.Similarity.mrr(truth, approxDup.distinct()))
    assert(dup == clean)
    assert(dup.getInt(1) == 2 && dup.getDouble(2) == 0.5)
  }
}
