package graft

import graft.functions.CosineSimilarity
import graft.ops.UdfOps
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property suite (SURVEY §5): algebraic laws of the custom numeric kernels,
  * checked on ScalaCheck-generated inputs — these are the pieces with
  * hand-written math (codegen'd cosine, Welford weighted mean) where a
  * subtle sign/order bug would poison every downstream K-query.
  * (ScalaCheck is driven through its own runner: the scalatestplus bridge
  * is not in the offline dependency cache.) */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(2, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100f, 100f)).map(_.toArray))

  test("resolveClusters equals a local union-find on random graphs") {
    // the distributed min-label propagation (pointer-jumping, O(log n)
    // rounds) must agree with the textbook sequential answer on arbitrary
    // topology — seeded so the run is deterministic; a handful of dense-ish
    // graphs rather than 100 tiny ones (each check spins Spark jobs)
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    (1 to 3).foreach { trial =>
      val n = 60 + trial * 40
      val nEdges = n / 2 + rnd.nextInt(n)
      val pairs = Seq.fill(nEdges) {
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // sequential oracle: path-compressing union-find, then min-relabel
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val minOfRoot = touched.groupBy(v => find(v.toInt)).flatMap {
        case (_, members) => members.map(_ -> members.min)
      }
      val got = graft.ops.LlmOps.resolveClusters(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === minOfRoot, s"trial $trial (n=$n, edges=${pairs.length})")
    }
  }

  test("resolveClusters under reliable checkpoint matches union-find") {
    // same propagation, lineage cut through a durable checkpoint dir (the
    // production conf for real clusters) — must be a pure plumbing swap
    val spark = TestSpark.spark
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L), (11L, 1L))
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val got = graft.ops.LlmOps.resolveClusters(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // one component {1,2,3,5,10,11} via 11-1 bridge → min label 1
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
                         10L -> 1L, 11L -> 1L))
    } finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("llm_knn_ivf recall vs bruteforce: floor at nprobe=3, monotone in nprobe") {
    // nprobe/cells = 3/10: similarity-uncorrelated cells would give recall
    // ≈ 0.3; the trained k-means cells must do better (measured 0.61 at
    // sf0.001 and 0.64 at sf0.01 — vs 0.51 for the old label-derived
    // cells). 0.4 is the regression floor, not the target. VERDICT r4 #7:
    // the tunable knob (`spark.graft.ivf.nprobe`) must trace the monotone
    // recall-vs-nprobe curve — provably non-decreasing (a larger probe set
    // is a candidate superset; only a true top-5 member can displace a
    // true top-5 member under the same exact-cosine ranking), measured
    // 0.61 → 0.81 at nprobe 3 → 5 on sf0.001.
    val spark = TestSpark.spark
    val d = TestSpark.sfDir
    val bf = SparkEntry.queries("llm_knn_bruteforce")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallAt(nprobe: Int): Double = {
      spark.conf.set(graft.ops.LlmOps.IvfNprobeKey, nprobe.toString)
      try {
        val ivf = SparkEntry.queries("llm_knn_ivf")(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(2))).toSet
        (ivf & bf).size.toDouble / bf.size
      } finally spark.conf.unset(graft.ops.LlmOps.IvfNprobeKey)
    }
    val r3 = recallAt(3)
    assert(r3 >= 0.4, s"IVF recall at nprobe=3 regressed to $r3")
    assert(r3 <= 1.0)
    // the default (conf unset) IS nprobe=3 — the oracle-gated definition
    val rDefault = {
      val ivf = SparkEntry.queries("llm_knn_ivf")(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (ivf & bf).size.toDouble / bf.size
    }
    assert(rDefault === r3, s"conf default diverged: $rDefault vs $r3")
    val r5 = recallAt(5)
    assert(r5 >= r3, s"recall not monotone: nprobe=5 gave $r5 < $r3")
    assert(r5 >= 0.7, s"nprobe=5 recall regressed to $r5 (measured 0.81)")
    val r10 = recallAt(10) // all cells probed ⇒ exhaustive ⇒ exact
    assert(r10 === 1.0, s"probing every cell must recover bruteforce, got $r10")
  }

  test("llm_knn_lsh recall floor vs brute force; band refinement is monotone") {
    // Sign-band LSH with the 16×4 default. Band refinement argument:
    // splitting every w-bit band into its halves can only ADD candidates
    // (two vectors sharing a w-bit band share both halves, so the refined
    // scheme's candidate set is a superset over the SAME 64 dims) — recall
    // at 32×2 must therefore dominate 16×4, and 64×1 dominate 32×2, under
    // the shared exact-cosine ranking. Measured at sf0.01: recall@5 0.93
    // with a 0.646 candidate rate at 16×4 (near-random corpus — the dial
    // deliberately sits at the recall end; see lshKnnOf's scaladoc);
    // 0.5 is the regression floor, not the target.
    val spark = TestSpark.spark
    val d = TestSpark.sfDir
    val bf = SparkEntry.queries("llm_knn_bruteforce")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val e = Tables.embeddings(spark, d)
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .filter(col("q_id") < 100)
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    def recallAt(nBands: Int, bandBits: Int): Double = {
      val got = graft.ops.LlmOps.lshKnnOf(q, c, 5, nBands, bandBits).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (got & bf).size.toDouble / bf.size
    }
    val r16x4 = recallAt(16, 4)
    assert(r16x4 >= 0.5, s"LSH 16x4 recall regressed to $r16x4")
    val r32x2 = recallAt(32, 2)
    assert(r32x2 >= r16x4, s"refining 16x4 -> 32x2 lost recall: $r32x2 < $r16x4")
    val r64x1 = recallAt(64, 1)
    assert(r64x1 >= r32x2, s"refining 32x2 -> 64x1 lost recall: $r64x1 < $r32x2")
  }

  test("llm_quantize_pq: well-formed 8x4-bit codes, recall floor vs brute force") {
    // 8 codes of 4 bits = 8 B/vector (32x vs fp32, 8x vs int8). Measured
    // recall@5 of the ADC-shortlist(25) + exact-rerank pipeline: 0.57 at
    // sf0.001, 0.51 at sf0.01 — on NEAR-RANDOM synthetic embeddings, the
    // hardest case for coarse codebooks; 0.4 is the regression floor.
    // (Standalone ADC without rerank measured 0.22 — the rerank stage is
    // load-bearing and this floor would catch its loss.)
    val spark = TestSpark.spark
    val d = TestSpark.sfDir
    val e = Tables.embeddings(spark, d)
    val enc = graft.ops.LlmOps.pqEncode(e, graft.ops.LlmOps.pqCodebooks(e)).collect()
    assert(enc.length === e.count())
    enc.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length === 8, "one code per subspace")
      assert(codes.forall(c => c >= 0 && c < 16), s"code out of 4-bit range: $codes")
      assert(r.getSeq[Double](2).length === 64, "reconstruction must be full-dim")
    }
    val bf = SparkEntry.queries("llm_knn_bruteforce")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SparkEntry.queries("llm_quantize_pq")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (pq & bf).size.toDouble / bf.size
    assert(recall >= 0.4, s"PQ recall@5 regressed to $recall (measured 0.57)")
  }

  test("llm_knn_ivfpq: exhaustive knobs equal brute force; default knobs recall") {
    // nprobe = #cells makes the candidate set the whole corpus; shortlist
    // >= corpus makes the exact rerank rank everything — so the composed
    // index must reproduce llm_knn_bruteforce BIT-FOR-BIT (same
    // tiebreaks), which pins every stage's plumbing at once. Verified
    // equal at sf0.001 AND sf0.01; default knobs (nprobe=3, shortlist=25)
    // measured recall@5 0.476-0.48 (≈ IVF cell recall x ADC survival).
    val spark = TestSpark.spark
    val d = TestSpark.sfDir
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddingsWide(spark, d)
    val bfRows = SparkEntry.queries("llm_knn_bruteforce")(spark, d).collect()
    val cen = graft.ops.LlmOps.kmeansCells(e, 10, 2)
    val cb = graft.ops.LlmOps.pqCodebooks(e)
    val ex = graft.ops.LlmOps.ivfPqSearchOf(
        e.filter(col("vec_id") < 100), e, cen, cb,
        nprobe = 10, shortlist = e.count().toInt, k = 5)
      .orderBy("q_id", "rk").collect()
    assert(ex.map(_.mkString("|")).toSet === bfRows.map(_.mkString("|")).toSet,
      "exhaustive IVF-PQ must degenerate to exact brute force")
    val bf = bfRows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val dflt = SparkEntry.queries("llm_knn_ivfpq")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (dflt & bf).size.toDouble / bf.size
    assert(recall >= 0.35, s"IVF-PQ default recall regressed to $recall")
  }

  test("incremental ANN append equals full rebuild against frozen artifacts (2 SFs)") {
    // VERDICT r6 #3: the store's day-2 append (encode ONLY the delta with
    // the FROZEN day-1 cells/codebooks, append as posting2) must produce
    // the identical index a full one-pass rebuild against the same frozen
    // artifacts would — bit-for-bit, at both test SFs. Encoding is
    // per-row with broadcast cen/cb, so the identity is structural; this
    // pin keeps a future edit from accidentally coupling rows (e.g. a
    // normalization over the batch).
    val spark = TestSpark.spark
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val idx = graft.ops.LlmOps.annIncPath(spark, d)
      val stored = spark.read.parquet(s"$idx/posting1")
        .unionByName(spark.read.parquet(s"$idx/posting2"))
        .collect().map(_.mkString("|")).toSet
      val rebuilt = graft.ops.LlmOps.pqPosting(
          Tables.embeddingsWide(spark, d),
          spark.read.parquet(s"$idx/cen"),
          spark.read.parquet(s"$idx/cb"))
        .collect().map(_.mkString("|")).toSet
      assert(stored === rebuilt,
        s"incremental append diverged from the full rebuild at $d")
      assert(stored.nonEmpty)
    }
  }

  test("pqCodebooks: empty clusters carry forward — codebook stays m x k rows") {
    // 20 vectors whose first 16 (the seeds) are pairwise duplicates: both
    // codes of a duplicated pair start with identical centroids, argmin
    // ties collapse onto the lower code, and the higher code gets ZERO
    // members in round 1 — without carry-forward it would drop out and
    // shrink the codebook below 8x16 (breaking the 4-bit code contract).
    val spark = TestSpark.spark
    import spark.implicits._
    val base = (0 until 10).map(i => Array.fill(64)((i + 1).toFloat))
    val vecs = (0 until 20).map(i => (i.toLong, base(i / 2 % 10)))
      .toDF("vec_id", "embedding")
    val cb = graft.ops.LlmOps.pqCodebooks(vecs)
    assert(cb.count() === 8L * 16L, "codebook lost empty clusters")
    val enc = graft.ops.LlmOps.pqEncode(vecs, cb).collect()
    assert(enc.length === 20)
    enc.foreach(r => assert(r.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
  }

  test("int8 quantization: |cos_q - cos| bounded over all pairs") {
    // measured max error 0.0059 (sf0.001) / 0.0050 (sf0.01); 0.015 is the
    // regression bound for the scheme (scale = max|x|/127, half-up floor)
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, max}
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val scale = "(array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127)"
    val dq = e.selectExpr("vec_id",
      s"transform(embedding, x -> floor(CAST(x AS DOUBLE) / $scale + 0.5) * $scale) AS v",
      "transform(embedding, x -> CAST(x AS DOUBLE)) AS o")
    def cos(a: String, b: String) =
      s"""aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
          / sqrt(aggregate(transform($a, x -> x * x), 0D, (acc, v) -> acc + v)
               * aggregate(transform($b, x -> x * x), 0D, (acc, v) -> acc + v))"""
    val maxErr = dq.as("a").join(dq.as("b"), col("a.vec_id") < col("b.vec_id"))
      .selectExpr(s"abs(${cos("a.v", "b.v")} - ${cos("a.o", "b.o")}) AS err")
      .agg(max("err")).first().getDouble(0)
    assert(maxErr <= 0.015, s"max quantization cosine error $maxErr")
  }

  test("every corpus SF: banded minhash recovers the exhaustive J >= 0.6 pair set") {
    // ADVICE r3/r4: k=64 / 16×4 banding has P(detect) ≈ 0.89 for a pair AT
    // J = τ = 0.6, so the hash gate is only safe if the FIXED seeded hashes
    // detect every qualifying pair of the actual corpus. The old pin
    // asserted a proxy (no Jaccard mass in [0.2, 0.85)) at sf0.01 only;
    // sweeping all SFs exposed an sf0.1 pair at J = 0.8 that the proxy
    // would flag even though the bands detect it (P(miss) ≈ 2e-4 at
    // J = 0.8, and deterministically found under our seeds). Pin the REAL
    // invariant instead, at every SF present: the banded candidate plan's
    // pair set equals the exhaustive exact-Jaccard oracle predicate. Any
    // regenerated corpus whose Jaccard mass lands where the seeded bands
    // miss fails HERE, loudly, instead of as a silent hash-gate mismatch.
    // If this test ever fails: raise MinhashK/Bands (128 / 32×4 gives
    // P(detect) = 0.996 at J = 0.6).
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val sfDirs = new java.io.File("/root/testdata").listFiles()
      .filter(f => f.isDirectory && new java.io.File(f, "documents.parquet").exists())
      .map(_.getAbsolutePath).sorted
    assert(sfDirs.nonEmpty, "no testdata SF dirs found")
    sfDirs.foreach { sf =>
      val docs = graft.ops.LlmOps.shingled(spark, sf).cache()
      val sizes = docs.select(col("doc_id"), size(col("sh")).as("n"))
      val inv = docs.select(col("doc_id"), explode(col("sh")).as("sv"))
      // exhaustive exact pairs via the inverted index (no banding anywhere)
      val exact = inv.as("x").join(inv.as("y"),
          col("x.sv") === col("y.sv") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("c"))
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .select(col("a"), col("b"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jac"))
        .filter(col("jac") >= 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      docs.unpersist()
      val banded = SparkEntry.queries("llm_neardup_minhash")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded === exact,
        s"$sf: banded pairs diverge from exact (missed: ${exact.diff(banded)}, " +
          s"extra: ${banded.diff(exact)})")
      // sf0.001 legitimately has no qualifying pairs; larger SFs must have
      // planted dups or the equality above is vacuous
      if (!sf.endsWith("sf0.001"))
        assert(exact.nonEmpty, s"$sf: no planted near-dups — vacuous check")
    }
  }

  test("cosine(v, v) == 1 for non-zero v") {
    check("self-cosine", Prop.forAll(vecGen) { v =>
      !v.exists(x => math.abs(x) > 1e-3f) ||
        math.abs(CosineSimilarity.compute(v, v) - 1.0) < 1e-9
    })
  }

  test("cosine is symmetric") {
    check("symmetry", Prop.forAll(vecGen, vecGen) { (a, b) =>
      val n = math.min(a.length, b.length)
      val x = a.take(n); val y = b.take(n)
      CosineSimilarity.compute(x, y) == CosineSimilarity.compute(y, x)
    })
  }

  test("cosine is bounded in [-1, 1] (up to fp slack)") {
    check("bounds", Prop.forAll(vecGen, vecGen) { (a, b) =>
      val c = CosineSimilarity.compute(a, b)
      c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9
    })
  }

  test("cosine is scale-invariant for positive scaling") {
    check("scale-invariance", Prop.forAll(vecGen, Gen.choose(0.1f, 10f)) { (v, s) =>
      !v.exists(x => math.abs(x) > 1e-3f) ||
        math.abs(CosineSimilarity.compute(v, v.map(_ * s)) - 1.0) < 1e-6
    })
  }

  test("cosine of zero vector is 0 (guarded, not NaN)") {
    assert(CosineSimilarity.compute(Array(0f, 0f), Array(1f, 2f)) === 0.0)
    assert(!CosineSimilarity.compute(Array(0f, 0f), Array(0f, 0f)).isNaN)
  }

  private val weightedGen: Gen[List[(Double, Double)]] =
    Gen.nonEmptyListOf(for {
      x <- Gen.choose(-1e6, 1e6)
      w <- Gen.choose(0.1, 100.0)
    } yield (x, w))

  private def fold(zs: List[(Double, Double)]): UdfOps.WBuf =
    zs.foldLeft(UdfOps.WeightedMean.zero) { case (b, (x, w)) =>
      UdfOps.WeightedMean.reduce(b, UdfOps.WIn(x, w))
    }

  test("WeightedMean reduce chain equals sum(x*w)/sum(w)") {
    check("welford-direct", Prop.forAll(weightedGen) { xs =>
      val got = UdfOps.WeightedMean.finish(fold(xs))
      val direct = xs.map { case (x, w) => x * w }.sum / xs.map(_._2).sum
      math.abs(got - direct) <= 1e-8 * math.max(1.0, math.abs(direct))
    })
  }

  test("WeightedMean merge of split partials equals single-pass result") {
    check("welford-merge", Prop.forAll(weightedGen, weightedGen) { (xs, ys) =>
      val merged = UdfOps.WeightedMean.finish(
        UdfOps.WeightedMean.merge(fold(xs), fold(ys)))
      val whole = UdfOps.WeightedMean.finish(fold(xs ++ ys))
      math.abs(merged - whole) <= 1e-8 * math.max(1.0, math.abs(whole))
    })
  }

  test("agg_count_min: every estimate is >= the true count, and collisions exist at this geometry") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("agg_count_min")(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty, "no probe keys surfaced — vacuous pin")
    // CMS invariant: cells only ever over-count (min over d rows of
    // bucket sums that each INCLUDE the key's own contribution)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS under-estimated key ${r.get(0)}: est=${r.getLong(2)} true=${r.getLong(1)}")
    }
    // the 4x64 geometry on a ~2000-key domain MUST collide somewhere —
    // if every estimate were exact the key would be a lookup table, not
    // a sketch demonstration
    assert(rows.exists(r => r.getLong(2) > r.getLong(1)),
      "no collisions at 4x64 — geometry no longer demonstrates estimation")
  }

  test("agg_bloom_membership: no false negatives, and both member and non-member probes exist") {
    val spark = TestSpark.spark
    val rows = SparkEntry.queries("agg_bloom_membership")(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    // Bloom invariant: a true member can NEVER miss (its k bits were all set)
    rows.foreach { r =>
      if (r.getInt(1) == 1)
        assert(r.getInt(2) == 1, s"false negative at key ${r.get(0)}")
    }
    // the probe set must exercise both sides or the pin is vacuous
    assert(rows.exists(_.getInt(1) == 1), "no true members probed")
    assert(rows.exists(_.getInt(1) == 0), "no non-members probed")
  }

  test("llm_embed_standardize: standardized corpus has per-dim mean ~0 and var ~1") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val stats = e.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"), col("v").cast("double").as("v"))
      .groupBy("pos")
      .agg(round(avg("v"), 6).as("mu"), round(stddev_pop("v"), 6).as("sigma"))
      .orderBy("pos").collect()
    val mus = array(stats.map(r => lit(r.getDouble(1))).toSeq: _*)
    val sigmas = array(stats.map(r => lit(r.getDouble(2))).toSeq: _*)
    val z = zip_with(zip_with(col("embedding"), mus, (x, m) => x.cast("double") - m),
                     sigmas, (x, s2) => x / s2)
    val zstats = e.select(posexplode(z).as(Seq("pos", "z")))
      .groupBy("pos").agg(avg("z").as("zmu"), stddev_pop(col("z")).as("zsd"))
      .collect()
    assert(zstats.nonEmpty)
    zstats.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-4, s"dim ${r.get(0)} z-mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-4, s"dim ${r.get(0)} z-sd ${r.getDouble(2)}")
    }
  }

  test("llm_fuzzy_join: symmetric-delete blocking has 100% recall vs the all-pairs definition") {
    // Two pins. (1) Corpus: the blocked key's pair set EQUALS a Spark
    // all-pairs crossJoin run of the same predicate — recall 1.0, no
    // extras. (2) The completeness argument itself, on adversarial local
    // strings: for ANY (s, t) within levenshtein <= 1, the delete
    // neighborhoods {s} ∪ dels(s) and {t} ∪ dels(t) intersect.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val sf = TestSpark.sfDir
    val blocked = SparkEntry.queries("llm_fuzzy_join")(spark, sf)
      .select("probe_id", "match_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val part = graft.Tables.part(spark, sf)
    val allPairs = part.filter(col("p_partkey") % 7 === 3)
      .select(col("p_partkey").as("probe_id"),
              concat(substring(col("p_name"), 1, 2),
                     expr("substring(p_name, 4)")).as("probe_name"))
      .crossJoin(part.select(col("p_name").as("name")).distinct())
      .filter(levenshtein(col("probe_name"), col("name")) <= 1)
      .select("probe_id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(allPairs.nonEmpty, "all-pairs ground truth is empty — vacuous pin")
    assert(blocked === allPairs,
      s"blocked != all-pairs: missed=${(allPairs -- blocked).take(5)} extra=${(blocked -- allPairs).take(5)}")

    def dels(s: String): Set[String] =
      Set(s) ++ (0 until s.length).map(i => s.substring(0, i) + s.substring(i + 1))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j => if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
                            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val strGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    check("symdelete-complete", Prop.forAll(strGen, strGen) { (s, t) =>
      lev(s, t) > 1 || (dels(s) & dels(t)).nonEmpty
    })
  }
  test("double-stability: reassociation-risky keys byte-match themselves across partitionings") {
    // The r14 gate red (fn_round_modes) was a BYTE-level double divergence
    // (-0.0) that value-level comparison hid. This pin re-runs the keys
    // whose outputs flow through float folds / window moments / iterative
    // normalizers under a different shuffle partitioning and demands
    // BIT-identical doubles: it catches -0.0 flips, NaN canonicalization
    // drift and any float-sum reassociation that escapes a sorted fold.
    val spark = TestSpark.spark
    val d = TestSpark.sfDir
    val keys = Seq("fn_round_modes", "agg_entropy", "agg_chi_square",
                   "agg_ks_test", "agg_gini", "obs_drift_psi",
                   "graph_modularity", "llm_rouge_overlap",
                   "win_rolling_zscore")
    def canon(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
      rows.toSeq.map(_.toSeq.map {
        case dd: Double => java.lang.Double.doubleToRawLongBits(dd)
        case ff: Float  => java.lang.Float.floatToRawIntBits(ff)
        case x          => x
      })
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    keys.foreach { k =>
      val a = canon(SparkEntry.queries(k)(spark, d).collect())
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = canon(SparkEntry.queries(k)(spark, d).collect())
        assert(a == b, s"$k: doubles not byte-stable across partitionings")
      } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
  }
}
