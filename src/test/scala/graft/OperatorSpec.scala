package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-operator suite (SURVEY §5): every batch query in the contract runs on
  * sf0.001, returns rows, and is deterministic under a double run (the t2
  * gate hashes values — a nondeterministic ORDER BY or unseeded hash dies
  * here instead of at the driver). Cross-check pairs assert the UDF/custom-
  * Expression twins agree bit-for-bit inside one result. */
class OperatorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  // The generated "every batch key: non-empty and deterministic" loop
  // lives in KeyContractSpec{A,B} (r21) — split out so the parallel
  // forked test groups can halve its wall time. This suite keeps the
  // hand-written per-operator pins.

  test("llm_substring_dedup: planted repeated paragraph flagged per span") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a 12-word paragraph shared verbatim by docs 0 and 1 ⇒ exactly 3
    // identical 10-word spans in each (spans crossing the paragraph edge
    // pick up different context words and must NOT match)
    val para = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val docs = Seq(
      (0L, para + " " + (1 to 10).map(i => s"tail$i").mkString(" ")), // 22 words
      (1L, "pre " + para),                                  // 13 words
      (2L, (1 to 40).map(i => s"uniq$i").mkString(" ")),    // all unique
      (3L, (1 to 9).map(i => s"short$i").mkString(" "))     // < span: no spans
    ).toDF("doc_id", "text")
    val out = graft.ops.LlmOps.substringDedupOf(docs, 10)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // (doc_id, n_spans, n_repeated_spans, dup_ratio, drop_doc)
    assert(byId(0L).getLong(1) === 13 && byId(0L).getLong(2) === 3)
    assert(byId(1L).getLong(1) === 4 && byId(1L).getLong(2) === 3)
    assert(byId(2L).getLong(2) === 0, "unique doc wrongly flagged")
    assert(byId(3L).getLong(1) === 0 && byId(3L).getLong(2) === 0,
      "sub-span doc must report zero spans, not a reversed sequence()")
    // verdict: doc1 is 3/4 repeated (drop), doc0 only 3/13 (keep)
    assert(byId(1L).getBoolean(4) === true)
    assert(byId(0L).getBoolean(4) === false)
    // doc-level dedup cannot see this: no two texts are equal
    assert(docs.select(col("text")).distinct().count() === 4)
  }

  test("llm_substring_dedup_multi: 5-window catches the 6-word repeat the 10-window provably misses") {
    import spark.implicits._
    // a 6-word sentence shared verbatim by docs 0 and 1, wrapped in
    // doc-unique context: every 10-word window crossing it drags in
    // context words, so the single-length span=10 operator MUST score 0
    // repeats — the 5–9-word blind spot VERDICT r6 #7 names. The 5-window
    // sees the repeat twice per doc (positions 1..2 of the 6-word run).
    val six = (1 to 6).map(i => s"boil$i").mkString(" ")
    val docs = Seq(
      (0L, (1 to 8).map(i => s"a$i").mkString(" ") + " " + six + " " +
           (1 to 8).map(i => s"b$i").mkString(" ")),            // 22 words
      (1L, (1 to 8).map(i => s"c$i").mkString(" ") + " " + six + " " +
           (1 to 8).map(i => s"e$i").mkString(" ")),            // 22 words
      (2L, (1 to 20).map(i => s"u$i").mkString(" "))            // unique
    ).toDF("doc_id", "text")
    // the blind spot is real: span=10 sees nothing
    val single = graft.ops.LlmOps.substringDedupOf(docs, 10)
      .orderBy("doc_id").collect()
    assert(single.forall(_.getLong(2) === 0L),
      "span=10 unexpectedly caught the 6-word repeat — fixture broken")
    // the multi-length operator closes it via its 5-window branch
    val multi = graft.ops.LlmOps.substringDedupMultiOf(docs, Seq(5, 10))
      .orderBy("doc_id").collect()
    val byId = multi.map(r => r.getLong(0) -> r).toMap
    // (doc_id, n_spans_5, n_rep_5, n_spans_10, n_rep_10, dup_ratio, drop_doc)
    assert(byId(0L).getLong(2) === 2 && byId(1L).getLong(2) === 2,
      s"each doc holds two repeated 5-windows inside the 6-word run: $multi")
    assert(byId(0L).getLong(4) === 0 && byId(1L).getLong(4) === 0)
    assert(byId(2L).getLong(2) === 0, "unique doc wrongly flagged")
    // span counts per length: 22 words ⇒ 18 5-windows, 13 10-windows
    assert(byId(0L).getLong(1) === 18 && byId(0L).getLong(3) === 13)
    // verdict stays keep (2/18 < 0.5) — the signal is the count, not drop
    assert(byId(0L).getBoolean(6) === false)

    // The REWRITE path has the same blind spot and the same fix: the
    // single-length drop must leave every doc byte-identical (no 10-word
    // cross-doc repeat exists), while the multi-length drop excises
    // exactly the 6-word run from docs 0 and 1 and nothing else.
    val textOf = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val singleDrop = graft.ops.LlmOps.substringDropOf(docs, 10)
      .orderBy("doc_id").collect()
    assert(singleDrop.forall(r => r.getString(4) === textOf(r.getLong(0))),
      "span=10 drop must not touch docs with only a 6-word repeat")
    val multiDrop = graft.ops.LlmOps.substringDropMultiOf(docs, Seq(5, 10))
      .orderBy("doc_id").collect()
    val dropById = multiDrop.map(r => r.getLong(0) -> r).toMap
    assert(dropById(0L).getString(4) === textOf(0L).replace(" " + six, ""),
      s"multi drop must excise exactly the planted run: ${dropById(0L)}")
    assert(dropById(0L).getLong(3) === 6 && dropById(1L).getLong(3) === 6)
    assert(dropById(2L).getString(4) === textOf(2L) &&
           dropById(2L).getLong(3) === 0, "unique doc must be untouched")
  }

  test("byte-level BPE: multi-byte round-trip, sub-character merges, determinism") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, expr}
    // multi-byte text: 2-byte (é/í/ï), 3-byte CJK, 4-byte emoji — the
    // alphabet the char-split variant cannot represent byte-level merges
    // over. Repeats make pairs recur so the trainer has real work.
    val docs = Seq(
      (0L, "café café café día día 汉字 naïve"),
      (1L, "café día 汉字 汉字 ok 😀 😀 naïve naïve")
    ).toDF("doc_id", "text")
    val (merges, vocab) = graft.ops.TextOps.bpeTrainWords(
      graft.ops.TextOps.byteWords(docs))
    assert(merges.nonEmpty, "repeated multi-byte words must yield merges")
    // determinism: retraining reproduces the identical merge table
    val (merges2, _) = graft.ops.TextOps.bpeTrainWords(
      graft.ops.TextOps.byteWords(docs))
    assert(merges === merges2)
    // round-trip: concatenated hex symbols decode back to the exact word,
    // for EVERY vocab word at EVERY merge state (stored vocab + replay)
    def roundTrips(df: org.apache.spark.sql.DataFrame): Unit = {
      val bad = df.withColumn("rt",
        expr("decode(unhex(concat_ws('', syms)), 'UTF-8')"))
        .filter(col("rt") =!= col("word"))
      assert(bad.count() === 0, s"round-trip broke: ${bad.collect().mkString}")
    }
    roundTrips(vocab)
    roundTrips(graft.ops.TextOps.bpeApplyBytesOf(vocab.select("word"), merges))
    // unseen word containing unseen multi-byte codepoints still tokenizes
    // (byte alphabet ⇒ nothing is out-of-vocabulary) and round-trips
    val unseen = Seq("über", "日本語x", "zzz").toDF("word")
    roundTrips(graft.ops.TextOps.bpeApplyBytesOf(unseen, merges))
    // sub-character merge really happened: "café"'s é is c3a9 — its two
    // bytes start as separate symbols and some vocab word must now hold a
    // merged symbol longer than one byte (4+ hex chars)
    val merged = vocab.filter(expr("exists(syms, s -> length(s) >= 4)"))
    assert(merged.count() > 0, "no multi-byte symbol was ever merged")
  }

  test("BPE trainer: deterministic merges, round-trip detokenization, compression") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, expr, size, sum}
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val (merges1, vocab1) = graft.ops.TextOps.bpeTrain(docs)
    val (merges2, _) = graft.ops.TextOps.bpeTrain(docs)
    assert(merges1 === merges2, "retraining must reproduce the merge table")
    assert(merges1.nonEmpty, "corpus with repeated words must learn merges")
    // round-trip: concatenating a word's BPE tokens restores the word
    assert(vocab1.filter(concat_ws("", col("syms")) =!= col("word")).count() === 0)
    // compression direction: word-count <= BPE tokens <= char count,
    // and the learned merges must beat the char-split baseline strictly
    val agg = vocab1.select(
      sum(size(col("syms")) * col("cnt")).as("toks"),
      sum(expr("length(word)") * col("cnt")).as("chars"),
      sum(col("cnt")).as("words")).first()
    assert(agg.getLong(0) < agg.getLong(1), "no compression vs chars")
    assert(agg.getLong(0) >= agg.getLong(2), "fewer tokens than words")

    // planted fixture: with 'ab' the dominant adjacent pair, the first
    // learned merge must be (a, b)
    val tiny = Seq((0L, "abc abc abd"), (1L, "abe xy")).toDF("doc_id", "text")
    val (m, v) = graft.ops.TextOps.bpeTrain(tiny)
    assert(m.head === ("a", "b"), s"expected (a,b) first, got ${m.head}")
    // "abc" (cnt 2) tokenizes through the merge chain; round-trip holds
    assert(v.filter(concat_ws("", col("syms")) =!= col("word")).count() === 0)
  }

  test("BPE merge tables independently re-derived from the raw corpus (VERDICT r8 #5)") {
    // Independent re-derivation gate: a plain-JVM BPE trainer written from
    // the SPEC (count adjacent symbol pairs over distinct corpus words,
    // winner = highest count with (a, b)-lexicographic ties, stop below
    // count 2, leftmost non-overlapping merge apply), sharing NO code with
    // the Spark trainer — not bpeTrainWords, not mergeOnce, no Spark
    // expressions. Both persisted merge tables (char and byte alphabets)
    // must match it row-for-row, so a bug in the distributed pair-count /
    // fold pipeline can no longer hide behind determinism-only pins.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def rederive(words: Seq[(Seq[String], Long)]): Seq[(String, String)] = {
      var state = words
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var continue = true
      while (continue && out.length < graft.ops.TextOps.BpeMerges) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        state.foreach { case (syms, cnt) =>
          syms.lazyZip(syms.drop(1)).foreach((a, b) =>
            counts((a, b)) = counts.getOrElse((a, b), 0L) + cnt)
        }
        val best = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.headOption
        best match {
          case Some(((a, b), n)) if n >= 2 =>
            out += ((a, b))
            state = state.map { case (syms, cnt) =>
              val acc = scala.collection.mutable.ArrayBuffer.empty[String]
              syms.foreach { x =>
                if (acc.nonEmpty && acc.last == a && x == b)
                  acc(acc.length - 1) = a + b
                else acc += x
              }
              (acc.toSeq, cnt)
            }
          case _ => continue = false
        }
      }
      out.toSeq
    }
    def stored(sub: String): Seq[(String, String)] =
      spark.read.parquet(s"${graft.ops.TextOps.bpeStorePath(spark, d)}/$sub")
        .orderBy("rank").select("a", "b").as[(String, String)].collect().toSeq
    val texts = Tables.documentsWide(spark, d).select(col("text")).as[String].collect()
    // char alphabet: whitespace-split words, one symbol per character
    val charWords = texts.toSeq.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).toSeq
      .map { case (w, occ) => (w.split("").toSeq, occ.size.toLong) }
    assert(rederive(charWords) === stored("merges"),
      "char-BPE merge table diverges from the independent re-derivation")
    // byte alphabet: regex pre-tokenizer, one lowercase-hex symbol per
    // UTF-8 byte (the pattern string is repeated literally on purpose —
    // importing BytePretokenPattern would couple the gate to the trainer)
    val pretoken = java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
    val byteWords = texts.toSeq.flatMap { t =>
      val m = pretoken.matcher(t)
      val ws = scala.collection.mutable.ArrayBuffer.empty[String]
      while (m.find()) ws += m.group()
      ws
    }.filter(_.nonEmpty).groupBy(identity).toSeq
      .map { case (w, occ) =>
        (w.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq
           .map(b => f"${b & 0xff}%02x"), occ.size.toLong)
      }
    assert(rederive(byteWords) === stored("merges_bytes"),
      "byte-BPE merge table diverges from the independent re-derivation")
  }

  test("gated corpus is BMP-only (llm_bpe_bytes oracle precondition, VERDICT r8 #7)") {
    // The byte-BPE DuckDB gate pre-tokenizes `documents.text` with the
    // same regex in Java (Spark) and RE2 (DuckDB). Both engines treat a
    // negated class as one CODEPOINT, but surrogate-handling differences
    // outside the BMP are not contractually identical across them — so
    // the invariant that keeps the corner moot is pinned here: the gated
    // corpus holds no supplementary-plane codepoints at either gate SF.
    // If testdata ever gains non-BMP text, this fails loudly instead of
    // the hash gate mysteriously diverging (see the oracle-side note at
    // TextOps.oracle("llm_bpe_bytes")). The SPARK tokenizer itself is
    // non-BMP-safe (the CJK/emoji round-trip test above).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val detector = "[\\x{10000}-\\x{10FFFF}]"
    // the detector itself must fire on a planted supplementary char, or
    // the corpus sweep below would pass vacuously
    val planted = Seq("bmp only", "emoji 💙 here").toDF("text")
    assert(planted.filter(col("text").rlike(detector)).count() === 1L,
      "non-BMP detector regex failed on a planted supplementary codepoint")
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val nonBmp = Tables.documentsWide(spark, sf)
        .filter(col("text").rlike(detector))
      assert(nonBmp.count() === 0L,
        s"non-BMP codepoints entered $sf/documents — the llm_bpe_bytes " +
        "oracle's BMP precondition no longer holds; make the pre-tokenizer " +
        "codepoint-contract explicit before trusting the hash gate")
    }
  }

  test("llm_substring_drop: excises exactly the shared paragraph, leaves clean docs byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val para = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val tail10 = (1 to 10).map(i => s"tail$i").mkString(" ")
    val uniq = (1 to 40).map(i => s"uniq$i").mkString(" ")
    val docs = Seq(
      (0L, para + " " + tail10), // shared paragraph + unique tail
      (1L, "pre " + para),       // same paragraph, different context
      (2L, uniq)                 // untouched
    ).toDF("doc_id", "text")
    val out = graft.ops.LlmOps.substringDropOf(docs, 10)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // covered = union of the 3 repeated spans' positions = the 12
    // paragraph words exactly (spans crossing the edge differ by context)
    assert(byId(0L).getLong(3) === 12 && byId(0L).getString(4) === tail10)
    assert(byId(1L).getLong(3) === 12 && byId(1L).getString(4) === "pre")
    assert(byId(2L).getLong(3) === 0 && byId(2L).getString(4) === uniq,
      "clean doc must come back byte-identical")
  }

  test("containment df-cap: hot posting list dropped, pair output unchanged") {
    // VERDICT r4 #5: plant a boilerplate shingle across every doc (df = 32,
    // way over the cap) plus one genuine containment pair that qualifies
    // through NON-hot shingles. The capped plan must drop the hot posting
    // list from candidate generation yet report the identical pairs with
    // the identical exact `cont` values (confirm reads the full shingle
    // sets, hot shingle included).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, max, size}
    val boiler = "all rights reserved"
    val docs = ((0 until 30).map { i =>
      (i.toLong, Seq(boiler, s"alpha $i x", s"beta $i y", s"gamma $i z"))
    } ++ Seq(
      (100L, Seq(boiler, "dup one a", "dup one b", "dup one c")),
      (101L, Seq(boiler, "dup one a", "dup one b", "dup one c", "an extra shingle"))
    )).toDF("doc_id", "sh")
    val cap = 10L
    val maxDf = docs.select(explode(col("sh")).as("sv"))
      .groupBy("sv").count().agg(max("count")).first().getLong(0)
    assert(maxDf > cap, s"plant failed: max df $maxDf not over cap $cap")
    def run(c: Option[Long]) =
      graft.ops.LlmOps.containmentPairs(docs, tau = 0.8, dfCap = c)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = run(None)
    val capped = run(Some(cap))
    assert(uncapped === capped, "df-cap changed the pair output")
    assert(capped === Set((100L, 101L, 1.0)), s"unexpected pairs: $capped")
    // and the contract query honors the conf end-to-end. On a real corpus
    // the design guarantee under a cap is PRECISION (capped ⊆ exact, with
    // identical cont values on shared pairs), not equality — recall is the
    // declared trade when every shared shingle of a pair is hot.
    spark.conf.set(graft.ops.LlmOps.ContainmentDfCapKey, "3")
    try {
      val viaConf = SparkEntry.queries("llm_neardup_containment")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.conf.unset(graft.ops.LlmOps.ContainmentDfCapKey)
      val default = SparkEntry.queries("llm_neardup_containment")(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaConf.subsetOf(default),
        s"capped pairs not a subset of exact: ${viaConf.diff(default)}")
    } finally spark.conf.unset(graft.ops.LlmOps.ContainmentDfCapKey)
  }

  test("banding bucket-cap: minhash hot bucket dropped, survivors exact") {
    // VERDICT r8 #1: 12 docs with IDENTICAL shingle sets land in one
    // bucket of EVERY band (signatures equal); a genuine near-dup pair
    // lives in its own size-2 buckets. Cap 8 must drop all 66 template
    // pairs from candidate generation while the genuine pair survives
    // with its exact Jaccard — capped ⊆ uncapped by construction.
    import spark.implicits._
    val hotSh = (1 to 10).map(i => s"hot$i")
    val base = (1 to 19).map(i => s"p$i")
    val docs = ((0 until 12).map(i => (i.toLong, hotSh)) ++ Seq(
      (100L, base :+ "t"), (101L, base :+ "u")
    )).toDF("doc_id", "sh")
    def run() = graft.ops.LlmOps.neardupPairsOf(docs, tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = run()
    assert(uncapped.contains((100L, 101L)), "genuine pair missing uncapped")
    assert(uncapped.count(p => p._1 < 12 && p._2 < 12) === 66,
      "plant failed: template docs must all pair uncapped")
    spark.conf.set(graft.ops.LlmOps.BandingBucketCapKey, "8")
    try {
      val capped = run()
      assert(capped === Set((100L, 101L)),
        s"cap must drop exactly the hot-bucket pairs: $capped")
      assert(capped.subsetOf(uncapped))
    } finally spark.conf.unset(graft.ops.LlmOps.BandingBucketCapKey)
    // real corpus: no bucket is anywhere near a 1000-doc posting at this
    // SF, so a high cap must leave the contract key's output unchanged
    spark.conf.set(graft.ops.LlmOps.BandingBucketCapKey, "1000")
    try {
      val viaConf = SparkEntry.queries("llm_neardup_minhash")(spark, d)
        .collect().map(_.toString).toSet
      spark.conf.unset(graft.ops.LlmOps.BandingBucketCapKey)
      val default = SparkEntry.queries("llm_neardup_minhash")(spark, d)
        .collect().map(_.toString).toSet
      assert(viaConf === default, "high cap changed real-corpus output")
    } finally spark.conf.unset(graft.ops.LlmOps.BandingBucketCapKey)
  }

  test("banding bucket-cap: simhash hot bucket dropped, survivors exact") {
    import spark.implicits._
    // 12 identical signatures (sig 0) fill one bucket of every 12-bit
    // band; the genuine pair's sigs set bit 12*j in every band (band
    // value 1 ≠ 0, so their buckets stay size 2) and differ only in bit 1
    // (Hamming 1, shared buckets in bands 1–4).
    val v = (0 until 5).map(j => 1L << (12 * j)).sum
    val sigs = ((0 until 12).map(i => (i.toLong, 0L)) ++ Seq(
      (100L, v), (101L, v | 2L)
    )).toDF("doc_id", "sig")
    def run() = graft.ops.LlmOps.simhashPairsOf(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = run()
    assert(uncapped.count(p => p._1 < 12 && p._2 < 12) === 66)
    assert(uncapped.contains((100L, 101L)))
    spark.conf.set(graft.ops.LlmOps.BandingBucketCapKey, "8")
    try {
      val capped = run()
      assert(capped === Set((100L, 101L)),
        s"cap must drop exactly the hot-bucket pairs: $capped")
    } finally spark.conf.unset(graft.ops.LlmOps.BandingBucketCapKey)
  }

  test("banding bucket-cap: LSH corpus hot bucket dropped, cold buckets untouched") {
    import spark.implicits._
    // 12 all-positive corpus vectors share the 0b1111 bucket of all 16
    // bands; 2 "mixed" vectors (dim%4==0 negative → band value 0b1110)
    // live in their own size-2 buckets. An all-positive query sees the 12
    // hot neighbors uncapped and ZERO candidates at cap 8 (every band it
    // hashes to is hot); a mixed query keeps its 2 neighbors under the
    // same cap — the drop is per-bucket, not global.
    def vec(mixed: Boolean, seed: Int): Array[Float] =
      Array.tabulate(64) { i =>
        val base = 0.3f + 0.01f * ((seed + i) % 7)
        if (mixed && i % 4 == 0) -base else base
      }
    val corpus = ((0 until 12).map(i => (i.toLong, vec(mixed = false, i))) ++
      Seq((100L, vec(mixed = true, 1)), (101L, vec(mixed = true, 2))))
      .toDF("n_id", "n_emb")
    val queries = Seq((0L, vec(mixed = false, 3)), (1L, vec(mixed = true, 4)))
      .toDF("q_id", "q_emb")
    def run() = graft.ops.LlmOps.lshKnnOf(queries, corpus, k = 5,
        excludeSelfId = false)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val uncapped = run()
    assert(uncapped.count(_._1 == 0L) === 5, "hot query must fill top-5 uncapped")
    assert(uncapped.filter(_._1 == 1L).map(_._2) === Set(100L, 101L))
    spark.conf.set(graft.ops.LlmOps.BandingBucketCapKey, "8")
    try {
      val capped = run()
      assert(!capped.exists(_._1 == 0L),
        s"hot query must lose its (all-hot) candidates: $capped")
      assert(capped.filter(_._1 == 1L).map(_._2) === Set(100L, 101L),
        "cold buckets must be untouched by the cap")
    } finally spark.conf.unset(graft.ops.LlmOps.BandingBucketCapKey)
  }

  test("resolveClusters: planted dup chains resolve to one keeper each") {
    import spark.implicits._
    // one 8-node path (worst case for propagation depth — exercises the
    // pointer-jumping rounds), one pair, one triangle-with-tail
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L)
    ).toDF("doc_a", "doc_b")
    val got = graft.ops.LlmOps.resolveClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L, 8L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L)
    assert(got === want)
    // exactly one keeper (label == own id) per component
    assert(got.count { case (n, l) => n == l } === 3)
  }

  test("incremental dedup equals the full minhash pairs touching day 2") {
    // consistency between the two dedup paths: probing the persisted day-1
    // store plus day-2 self-banding must find exactly the pairs the full
    // in-corpus plan finds among pairs with a day-2 member — Spark vs
    // Spark, independent of the DuckDB oracle
    def pairs(key: String) = SparkEntry.queries(key)(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairs("llm_dedup_incremental")
    val full = pairs("llm_neardup_minhash")
      .filter { case (a, b) => a % 4 == 0 || b % 4 == 0 }
    assert(inc === full)
    assert(inc.nonEmpty, "no day-2-touching pairs at sf0.001 — vacuous test")
  }

  test("agg_approx_percentile tracks the exact percentile within 5% per group") {
    // no cross-engine oracle (GK sketch vs DuckDB t-digest), so the
    // accuracy contract is pinned here against the exact key instead
    val ap = SparkEntry.queries("agg_approx_percentile")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val ex = SparkEntry.queries("agg_percentile")(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(ap.keySet === ex.keySet)
    ap.foreach { case (k, (p50, p90)) =>
      val (e50, e90) = ex(k)
      assert(math.abs(p50 - e50) <= 0.05 * e50, s"$k p50: sketch $p50 vs exact $e50")
      assert(math.abs(p90 - e90) <= 0.05 * e90, s"$k p90: sketch $p90 vs exact $e90")
    }
  }

  test("agg_sketch_union: unioned HLL sketches match exact distinct within rsd") {
    // lgConfigK=14 ⇒ relative error ~0.8%; allow 3σ (2.5%) with a floor of
    // 2 for tiny groups. Also pin the MERGE path itself: the per-half
    // sketch union must equal a direct single-pass sketch — the mergeability
    // contract that makes pre-aggregated sketches usable at 100 TB.
    import org.apache.spark.sql.functions._
    val viaUnion = SparkEntry.queries("agg_sketch_union")(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, d).groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaUnion.keySet === exact.keySet)
    viaUnion.foreach { case (k, est) =>
      val ex = exact(k)
      assert(math.abs(est - ex) <= math.max(2L, (0.025 * ex).toLong),
        s"$k: sketch $est vs exact $ex")
    }
    val direct = Tables.events(spark, d).groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaUnion === direct,
      "union of per-half sketches diverges from the single-pass sketch")
  }

  test("cross-check: udf_scalar UDF twin equals native when-chain twin") {
    val rows = SparkEntry.queries("udf_scalar")(spark, d)
      .select("band_udf", "band_native").collect()
    assert(rows.forall(r => r.getString(0) == r.getString(1)))
  }

  test("cross-check: custom cosine Expression equals aggregate(zip_with) twin") {
    val rows = SparkEntry.queries("expr_custom_cosine")(spark, d)
      .select("cos_expr", "cos_builtin").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("llm_exact_dedup: keeper is the min doc_id and copies cover the corpus") {
    val rows = SparkEntry.queries("llm_exact_dedup")(spark, d).collect()
    val total = rows.map(_.getLong(2)).sum
    assert(total === Tables.documents(spark, d).count())
  }

  test("llm_neardup_minhash: every emitted pair is a true near-dup (J >= 0.6)") {
    val rows = SparkEntry.queries("llm_neardup_minhash")(spark, d).collect()
    assert(rows.forall(_.getDouble(2) >= 0.6))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("llm_knn_bruteforce: exactly 5 neighbors per query, none reflexive") {
    val rows = SparkEntry.queries("llm_knn_bruteforce")(spark, d).collect()
    val perQuery = rows.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(perQuery === Set(5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    assert(rows.forall(r => r.getDouble(3) <= 1.0001 && r.getDouble(3) >= -1.0001))
  }

  test("llm_knn_ivf: 5 neighbors per query and decent recall vs brute force") {
    val ivf = SparkEntry.queries("llm_knn_ivf")(spark, d).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val brute = SparkEntry.queries("llm_knn_bruteforce")(spark, d).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(ivf.keySet === brute.keySet)
    assert(ivf.values.forall(_.size === 5))
    // The synthetic embeddings are label-UNCORRELATED (measured: same-label
    // mean cosine == overall mean == 0.0), so IVF recall here is bounded by
    // roughly the probed fraction (3/10 cells) — measured 0.51 at nprobe=3,
    // deterministic for this data. On real corpora, where embeddings
    // cluster, the same plan recovers high recall at small probed fractions;
    // this assertion pins the measured behavior, not a marketing number.
    val recall = ivf.map { case (q, ns) => (ns & brute(q)).size / 5.0 }.sum / ivf.size
    assert(recall >= 0.45, f"IVF mean recall@5 regressed: $recall%.2f")
  }

  // --- Cross-SF two-point pins for the no-oracle sketch keys (r17
  // verdict #6): the single-SF tolerance pins above bound the error at
  // one corpus size; these re-run each key at sf0.01 too, so the
  // evidence is two-point — the envelope holds as the data grows 10x,
  // and the estimates move WITH the data (a sketch frozen on one
  // corpus, or an estimator that degrades with scale, fails here).

  test("agg_approx_distinct: error envelope holds at BOTH SFs and the estimate grows with the data") {
    import org.apache.spark.sql.functions._
    val est = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").map { sf =>
      val exact = Tables.lineitem(spark, sf)
        .agg(countDistinct("l_orderkey")).collect()(0).getLong(0).toDouble
      val e = SparkEntry.queries("agg_approx_distinct")(spark, sf)
        .collect()(0).getLong(0).toDouble
      assert(math.abs(e - exact) / exact < 0.05,
        s"$sf: approx $e vs exact $exact outside 5%")
      e
    }
    assert(est(1) > 5 * est(0), s"estimate did not scale with the corpus: $est")
  }

  test("agg_approx_percentile: 5% envelope holds per group at BOTH SFs") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { sf =>
      val ap = SparkEntry.queries("agg_approx_percentile")(spark, sf).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val ex = SparkEntry.queries("agg_percentile")(spark, sf).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(ap.keySet === ex.keySet)
      ap.foreach { case (k, (p50, p90)) =>
        val (e50, e90) = ex(k)
        assert(math.abs(p50 - e50) <= 0.05 * e50, s"$sf $k p50: $p50 vs $e50")
        assert(math.abs(p90 - e90) <= 0.05 * e90, s"$sf $k p90: $p90 vs $e90")
      }
    }
  }

  test("agg_sketch_union: merge-path envelope holds at BOTH SFs and tracks the 10x user domain") {
    import org.apache.spark.sql.functions._
    val perSf = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").map { sf =>
      val viaUnion = SparkEntry.queries("agg_sketch_union")(spark, sf).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = Tables.events(spark, sf).groupBy("event_type")
        .agg(countDistinct("user_id").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaUnion.keySet === exact.keySet)
      viaUnion.foreach { case (k, est) =>
        assert(math.abs(est - exact(k)) <= math.max(2L, (0.025 * exact(k)).toLong),
          s"$sf $k: sketch $est vs exact ${exact(k)}")
      }
      viaUnion
    }
    perSf(0).keySet.foreach { k =>
      assert(perSf(1)(k) > 5 * perSf(0)(k),
        s"$k: union estimate did not scale with the corpus: ${perSf(0)(k)} -> ${perSf(1)(k)}")
    }
  }

  test("agg_approx_distinct: HLL estimate within rsd bound of exact") {
    import org.apache.spark.sql.functions._
    val exact = Tables.lineitem(spark, d)
      .agg(countDistinct("l_orderkey")).collect()(0).getLong(0).toDouble
    val approxRow = SparkEntry.queries("agg_approx_distinct")(spark, d).collect()(0)
    // tolerate any numeric column layout; grab every numeric value
    val approxes = (0 until approxRow.length).flatMap(i => approxRow.get(i) match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    })
    assert(approxes.exists(a => math.abs(a - exact) / exact < 0.15),
      s"no approx value within 15% of exact=$exact in $approxRow")
  }

  test("entry: flagship smoke returns rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("llm_multimodal_resize: fit-box invariants hold for every asset") {
    // The oracle hash-gates the exact values; this pins the SEMANTICS the
    // arithmetic is supposed to encode: the longer edge lands exactly on
    // the 256 box, nothing exceeds it, and the aspect ratio survives up
    // to integer-floor error (|out_w*h - out_h*w| < max(w,h)).
    val out = SparkEntry.queries("llm_multimodal_resize")(spark, TestSpark.sfDir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (w, h, ow, oh) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(math.max(ow, oh) === 256L, s"longer edge must hit the box: $r")
      assert(ow <= 256 && oh <= 256, s"dims exceed the box: $r")
      assert(math.abs(ow * h - oh * w) < math.max(w, h),
        s"aspect ratio lost beyond floor error: $r")
    }
  }

  test("frameSampleOf: boundaries, stride, and the empty-payload guard") {
    import spark.implicits._
    // 130 chars = frames of 64+64+2 → n_frames 3, stride 2 keeps idx 0, 2
    // (the tail frame is SHORT, not padded); 128 chars is an exact
    // boundary → 2 frames, only idx 0 kept; empty text must emit NOTHING
    // (the unguarded sequence(0, -1) would count down and explode).
    val docs = Seq(
      (1L, "a" * 130), (2L, "b" * 128), (3L, "")
    ).toDF("doc_id", "text")
    val out = graft.ops.LlmOps.frameSampleOf(docs)
      .orderBy("doc_id", "frame_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      === Seq((1L, 3L, 0L, 64L), (1L, 3L, 2L, 2L), (2L, 2L, 0L, 64L)))
    // digest of the short tail frame is the digest of exactly those 2 chars
    val tail = out.find(r => r.getLong(0) == 1L && r.getLong(2) == 2L).get
    val md = java.security.MessageDigest.getInstance("MD5")
    val exp = md.digest("aa".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(tail.getString(4) === exp, "tail frame must hash its own chars only")
  }

  test("llm_semdedup: verdict covers the corpus; drops are cluster-bounded all-pairs drops") {
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("llm_semdedup")(spark, d).collect()
    val corpusN = graft.Tables.embeddings(spark, d).count()
    assert(out.length.toLong === corpusN, "one verdict row per vector")
    // dropped ⇒ a named smaller in-cell culprit; kept ⇒ no culprit
    out.foreach { r =>
      val (id, keep) = (r.getLong(0), r.getBoolean(3))
      if (keep) assert(r.isNullAt(2), s"kept $id carries dup_of")
      else assert(!r.isNullAt(2) && r.getLong(2) < id,
        s"dropped $id needs a smaller dup_of: $r")
    }
    assert(out.exists(!_.getBoolean(3)), "tau=0.3 must drop something")
    assert(out.exists(_.getBoolean(3)), "tau=0.3 must keep something")
    // cluster-bounded ⊆ all-pairs: every (dup_of, vec_id) pair the verdict
    // names must appear in the exact all-pairs ≥0.3 set
    val allPairs = SparkEntry.queries("llm_neardup_embedding")(spark, d)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    out.filterNot(_.getBoolean(3)).foreach { r =>
      assert(allPairs.contains((r.getLong(2), r.getLong(0))),
        s"semdedup named a pair the exact predicate rejects: $r")
    }
  }

  test("llm_token_budget: two-phase verdict equals the naive single-window prefix") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("llm_token_budget")(spark, d)
    // naive formulation: one window per language over (quality DESC, doc_id)
    val w = Window.partitionBy("lang")
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = out.drop("keep")
      .withColumn("keep", sum("toks").over(w) <= 2000)
    assert(out.orderBy("doc_id").collect().toSeq
      === naive.orderBy("doc_id").collect().toSeq,
      "bucketed two-phase plan diverged from the defining window")
    // the budget itself holds per language
    val spent = out.filter(col("keep")).groupBy("lang")
      .agg(sum("toks").as("t")).collect()
    assert(spent.nonEmpty)
    spent.foreach(r => assert(r.getLong(1) <= 2000L, s"budget exceeded: $r"))
  }

  test("llm_dsir: full coverage; target docs score higher; keep tracks weight") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("llm_dsir")(spark, d)
    val docs = graft.Tables.documents(spark, d)
    assert(out.count() === docs.count(), "one weight row per doc")
    // keep ⇔ weight > 0 (the operator's declared verdict)
    out.collect().foreach { r =>
      assert(r.getBoolean(3) === (r.getDouble(2) > 0), s"keep drifted: $r")
    }
    // the defining direction: the target sub-corpus must score higher on
    // average than the rest — the importance weight estimates exactly the
    // doc's log-likelihood ratio toward the target feature distribution
    val scored = out.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("tgt", col("source").isin("src0", "src1", "src2", "src3"))
      .groupBy("tgt").agg(avg("weight").as("w")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(scored(true) > scored(false),
      s"target docs must outscore non-target: $scored")
  }

  test("llm_mixture_temperature: sqrt flattening; rates and counts bounded") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("llm_mixture_temperature")(spark, d).collect()
    val langs = graft.Tables.documents(spark, d)
      .select("lang").distinct().count()
    assert(out.length.toLong === langs, "one quota row per language")
    out.foreach { r =>
      val (n, rate, thresh, kept) =
        (r.getLong(1), r.getDouble(2), r.getInt(3), r.getLong(4))
      assert(rate > 0 && rate <= 1.0, s"rate out of range: $r")
      // thresh = floor(unrounded_rate * 256); the output rate is 4dp, so
      // pin the ±1 band around the rounded value rather than equality
      assert(thresh >= 0 && thresh <= 256, s"thresh out of range: $r")
      assert(math.abs(thresh - rate * 256) <= 1.0, s"thresh drifted: $r")
      assert(kept <= n, s"kept more than exist: $r")
    }
    // temperature flattening: more docs ⇒ never a HIGHER sampling rate
    for (a <- out; b <- out if a.getLong(1) > b.getLong(1))
      assert(a.getDouble(2) <= b.getDouble(2),
        s"sqrt flattening violated: $a vs $b")
  }

  test("sink_merge_upsert: update arm wins every overlapping key, insert arm lands") {
    import org.apache.spark.sql.functions._
    // the audit aggregate is the gated surface; this pins the MERGE row
    // semantics on the underlying frames at sf0.001
    val orders = graft.Tables.orders(spark, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val nOrders = orders.count()
    val nUpd = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0).count()
    val nBaseOnly = orders
      .filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .filter(pmod(col("o_orderkey"), lit(2)) =!= 0).count()
    val audit = SparkEntry.queries("sink_merge_upsert")(spark, d).collect()
    val bySrc = audit.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySrc("upd") === nUpd, "every delta key must survive as 'upd'")
    assert(bySrc("base") === nBaseOnly,
      "exactly the non-overlapping base keys survive as 'base'")
    // the insert arm is live, not vacuous: keys with % 10 == 0 are in the
    // delta but in no base partition, and they all landed under 'upd'
    val nInserts = orders.filter(pmod(col("o_orderkey"), lit(10)) === 0).count()
    assert(nInserts > 0, "fixture must exercise the insert arm")
    assert(bySrc("upd") + bySrc("base") ===
      orders.filter(pmod(col("o_orderkey"), lit(5)) =!= 0).count() + nInserts,
      "merged row count = base snapshot + inserted keys")
    assert(nOrders > 0)
  }

  test("MisraGries: candidate set covers every exact heavy hitter under forced merges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 5 planted heavies (400 each) drowned in 4000 singleton keys:
    // n = 6000, k = 256 ⇒ threshold n/k ≈ 23 — the sketch must evict
    // constantly (4005 distinct ≫ 256 counters) yet keep the heavies.
    // repartition(7) forces cross-partition summary merges.
    val rows = (1 to 5).flatMap(h => Seq.fill(400)(s"hot$h")) ++
      (1 to 4000).map(i => s"cold$i")
    val df = rows.toDF("g").repartition(7)
    val mg = udaf(graft.ops.AggOps.MisraGries)
    val cands = df.agg(mg(col("g")).as("mg"))
      .select(explode(col("mg.cands")).as("g")).as[String].collect().toSet
    assert(cands.size <= graft.ops.AggOps.MisraGries.K, "summary exceeded k entries")
    (1 to 5).foreach(h => assert(cands.contains(s"hot$h"),
      s"heavy key hot$h evicted — MG guarantee broken"))
  }

  test("MisraGries: merged-summary undercount stays within n/(k+1) for every key") {
    // the quantitative mergeable-summaries bound (Agarwal et al.) the
    // coverage test relies on — checked directly on the raw counters.
    // Zipf-ish synthetic stream, merged across an adversarial partition mix.
    val rnd = new scala.util.Random(42)
    val stream = (1 to 20000).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 30) s"k${rnd.nextInt(5)}"        // 5 hot keys share 30%
      else s"cold${rnd.nextInt(5000)}"
    }
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    val k = graft.ops.AggOps.MisraGries.K
    // simulate partitioned aggregation: uneven slices, pairwise merges
    val slices = Seq(0 -> 137, 137 -> 5000, 5000 -> 5003, 5003 -> 20000)
    val summaries = slices.map { case (a, b) =>
      stream.slice(a, b).foldLeft(graft.ops.AggOps.MisraGries.zero)(
        graft.ops.AggOps.MisraGries.reduce)
    }
    val merged = summaries.reduce(graft.ops.AggOps.MisraGries.merge)
    val mg = merged.keys.zip(merged.counts).toMap
    val bound = n / (k + 1) + 1
    exact.foreach { case (key, cnt) =>
      val est = mg.getOrElse(key, 0L)
      assert(est <= cnt, s"$key overcounted: $est > $cnt")
      assert(cnt - est <= bound, s"$key undercount ${cnt - est} exceeds n/(k+1)=$bound")
    }
  }

  test("graph_pagerank: hand-computed star graph and corpus mass conservation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // star a–b, a–c (symmetric): 3 analytic iterations give
    // a = 1.741625, b = c = 0.6291875
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")).toDF("src", "dst")
    val r = graft.ops.GraphOps.pageRankOf(edges, 3).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 1.741625) < 1e-9, s"a rank ${r("a")}")
    assert(math.abs(r("b") - 0.6291875) < 1e-9, s"b rank ${r("b")}")
    assert(math.abs(r("c") - 0.6291875) < 1e-9, s"c rank ${r("c")}")
    // scaled PR with no dangling nodes conserves total mass = node count
    val full = graft.ops.GraphOps.tradeEdges(spark, d)
    val n = full.select("src").distinct().count()
    val mass = graft.ops.GraphOps.pageRankOf(full, 3)
      .agg(sum("rank")).head().getDouble(0)
    assert(math.abs(mass - n) / n < 1e-9, s"mass $mass drifted from N=$n")
  }

  test("graph_components: every edge's endpoints share a component; labels are roots") {
    import org.apache.spark.sql.functions._
    val labels = SparkEntry.queries("graph_components")(spark, d).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.nonEmpty)
    // labels are component minima: every label is itself a node labeling itself
    labels.values.toSet.foreach { (c: String) => assert(labels(c) === c, s"label $c not a root") }
    // endpoint agreement on the same thresholded edge set the key uses
    val li = graft.Tables.lineitem(spark, d).select("l_orderkey", "l_suppkey")
    val o = graft.Tables.orders(spark, d).select("o_orderkey", "o_custkey")
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 3).collect()
    assert(edges.nonEmpty)
    edges.foreach { e =>
      val (c, s2) = (s"c${e.getLong(0)}", s"s${e.getLong(1)}")
      assert(labels(c) === labels(s2), s"edge ($c,$s2) split across components")
    }
  }

  test("graph_bfs: seed at 0; adjacent reachable nodes differ by at most one hop") {
    import org.apache.spark.sql.functions._
    val dist = SparkEntry.queries("graph_bfs")(spark, d).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(dist.nonEmpty)
    assert(dist(dist.keys.min) === 0, "lexicographic-min seed must be at distance 0")
    assert(dist.values.forall(v => v >= 0 && v <= graft.ops.GraphOps.BfsRounds))
    val edges = graft.ops.GraphOps.repeatTradeEdges(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)))
    edges.foreach { case (u, v) =>
      (dist.get(u), dist.get(v)) match {
        case (Some(du), Some(dv)) =>
          assert(math.abs(du - dv) <= 1, s"edge ($u,$v) dists $du/$dv not adjacent")
        case (Some(du), None) =>
          // a reachable node's neighbor can only be missing at the cap
          assert(du === graft.ops.GraphOps.BfsRounds,
            s"$v unreachable though neighbor $u is at $du < cap")
        case _ => ()
      }
    }
  }

  test("llm_chunk_overlap: every chunk is the exact substring at its declared offset") {
    import org.apache.spark.sql.functions.col
    val texts = graft.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = SparkEntry.queries("llm_chunk_overlap")(spark, d).collect()
    assert(chunks.nonEmpty)
    val perDoc = chunks.groupBy(_.getLong(0))
    perDoc.foreach { case (id, cs) =>
      val t = texts(id)
      val sorted = cs.sortBy(_.getInt(1))
      // indices are consecutive from 0 and cover the text's tail
      assert(sorted.map(_.getInt(1)).toSeq === (0 until sorted.length),
        s"doc $id chunk indices not consecutive")
      // the final chunk must end exactly at the text's end (full coverage)
      val last = sorted.last
      assert(last.getInt(2) - 1 + last.getInt(3) === t.length,
        s"doc $id tail not covered by the last chunk")
      sorted.foreach { c =>
        val start = c.getInt(2) - 1 // 1-based offset
        val expect = t.substring(start, math.min(start + 120, t.length))
        assert(c.getString(4) === expect, s"doc $id chunk@$start mismatch")
        assert(c.getInt(3) === expect.length)
      }
    }
  }

  test("llm_stratified_split: the three splits partition the corpus exactly") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, d)
    val out = SparkEntry.queries("llm_stratified_split")(spark, d).collect()
    val splits = out.map(_.getString(1)).toSet
    assert(splits === Set("train", "valid", "test"),
      s"expected all three splits to be non-empty at sf0.001, got $splits")
    assert(out.map(_.getLong(2)).sum === docs.count(), "split doc counts must sum to corpus")
    assert(out.map(_.getLong(3)).sum ===
      docs.agg(sum("n_chars")).head().getLong(0), "split char totals must sum to corpus")
  }

  test("llm_bpe_merge_audit: audited rounds are a prefix of the stored merge table") {
    val audit = SparkEntry.queries("llm_bpe_merge_audit")(spark, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(audit.length === graft.ops.TextOps.BpeAuditRounds)
    val stored = spark.read
      .parquet(s"${graft.ops.TextOps.bpeStorePath(spark, d)}/merges")
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .take(graft.ops.TextOps.BpeAuditRounds)
    assert(audit.toSeq === stored.toSeq,
      "independent re-derivation disagrees with the persisted merge table prefix")
  }

  test("src_text_roundtrip precondition: corpus is newline-free with non-null fields (loud canary)") {
    import org.apache.spark.sql.functions._
    // a \n or \r inside `text` would shear a written line into two
    // records on read-back, and a null field would shift concat_ws's
    // output — same canary pattern as the BMP pin: if testdata ever gains
    // either, this fails with a pointer instead of an opaque hash mismatch
    Seq(d, "/root/testdata/sf0.01").foreach { dir =>
      val bad = Tables.documents(spark, dir).filter(
        col("text").isNull || col("lang").isNull || col("doc_id").isNull ||
        col("text").contains("\n") || col("text").contains("\r")).count()
      assert(bad === 0, s"$dir: $bad docs break the text-sink line invariant " +
        "- src_text_roundtrip's gate assumes newline-free, non-null fields")
    }
  }

  test("pageRankOf: an in-degree-0 source keeps its base rank and its contribution") {
    import spark.implicits._
    // c -> a only (c has out-degree 1, in-degree 0); a <-> b symmetric.
    // c must stay in the output at the base rank 0.15 + 0.85*0 each round,
    // and its contribution must keep flowing into a.
    val edges = Seq(("a", "b"), ("b", "a"), ("c", "a")).toDF("src", "dst")
    val r = graft.ops.GraphOps.pageRankOf(edges, 3).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set("a", "b", "c"), s"node set ${r.keySet}")
    assert(math.abs(r("c") - 0.15) < 1e-12, s"source rank ${r("c")}")
    // hand-rolled 3 rounds: a gets b's rank + c's 0.15 every round
    var (ra, rb, rc) = (1.0, 1.0, 1.0)
    for (_ <- 1 to 3) {
      val (na, nb) = (0.15 + 0.85 * (rb + rc), 0.15 + 0.85 * ra)
      ra = na; rb = nb; rc = 0.15
    }
    assert(math.abs(r("a") - ra) < 1e-9, s"a ${r("a")} vs $ra")
    assert(math.abs(r("b") - rb) < 1e-9, s"b ${r("b")} vs $rb")
  }

  test("sketch exactness preconditions hold at both oracle SFs (loud canary)") {
    import org.apache.spark.sql.functions._
    // The three r10 Datasketches keys are hash-gated BECAUSE the corpus
    // sits inside each sketch's exact regime. If testdata ever outgrows
    // one, this fails with a pointer instead of a mystery hash mismatch.
    Seq(d, "/root/testdata/sf0.01").foreach { dir =>
      val users = Tables.events(spark, dir).select("user_id").distinct().count()
      assert(users <= 4096, s"$dir: $users users exceed theta lgK=12 capacity " +
        "- agg_theta_setops estimates go approximate (see its doc)")
      val maxGroup = Tables.lineitem(spark, dir).groupBy("l_returnflag")
        .count().agg(max("count")).head().getLong(0)
      assert(maxGroup <= 65535, s"$dir: returnflag group of $maxGroup rows " +
        "exceeds KLL k=65535 exact mode - agg_kll_quantiles goes approximate")
      val grams = Tables.documents(spark, dir)
        .filter(length(col("text")) >= 4).select(lower(col("text")).as("t"))
        .select(explode(expr(
          "transform(sequence(1, length(t) - 3), i -> substring(t, i, 4))")).as("g"))
        .distinct().count()
      assert(grams <= 1000, s"$dir: $grams distinct grams exceed approx_top_k " +
        "k=1000 - agg_approx_topk output becomes a true (lossy) top-k")
    }
  }

  test("approx_top_k accumulate+combine equals the one-shot aggregation") {
    import org.apache.spark.sql.functions._
    // the persist-sketch-bytes path (per-half accumulate, combine at
    // query time) must agree with the direct aggregation — the same
    // mergeable-sketch pattern agg_sketch_union pins for HLL
    Tables.documents(spark, d)
      .filter(length(col("text")) >= 4).select(lower(col("text")).as("t"), col("doc_id"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(t) - 3), i -> substring(t, i, 4))")).as("g"))
      .createOrReplaceTempView("graft_topk_grams")
    val combined = spark.sql("""
      WITH halves AS (
        SELECT pmod(doc_id, 2) AS half, approx_top_k_accumulate(g, 100000) AS st
        FROM graft_topk_grams GROUP BY pmod(doc_id, 2)),
      c AS (SELECT approx_top_k_combine(st, 100000) AS st FROM halves)
      SELECT explode(approx_top_k_estimate(st, 1000)) AS e FROM c""")
      .select(col("e.item"), col("e.count")).orderBy("item").collect()
    val oneShot = spark.sql("""
      SELECT explode(approx_top_k(g, 1000, 100000)) AS e FROM graft_topk_grams""")
      .select(col("e.item"), col("e.count")).orderBy("item").collect()
    assert(combined.toSeq === oneShot.toSeq)
    assert(combined.nonEmpty)
  }

  test("sink_compaction: 64 fragments become 4 files with identical content") {
    import org.apache.spark.sql.functions._
    val compactDir = graft.ops.ScanOps.compactedOrders(spark, d)
    val smallDir = compactDir.stripSuffix("/compact") + "/small"
    def parts(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts(smallDir) === 64, "fragmented layout must have 64 shards")
    assert(parts(compactDir) === 4, "compacted layout must have 4 files")
    val a = spark.read.parquet(compactDir)
    val o = graft.Tables.orders(spark, d)
    assert(a.count() === o.count())
    assert(a.agg(round(sum("o_totalprice"), 2)).head() ===
           o.agg(round(sum("o_totalprice"), 2)).head())
  }

  test("llm_group_sample: exactly 5 per lang, stable under re-partitioning") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("llm_group_sample")(spark, d).collect()
    val perLang = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(perLang.values.forall(_ === 5), s"per-lang counts: $perLang")
    // same sample regardless of physical layout
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    val reparted = graft.Tables.documents(spark, d).repartition(13)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .orderBy("lang", "rk").collect()
    assert(out.toSeq === reparted.toSeq, "sample must not depend on layout")
  }

  test("opt_zorder: the Morton layout prunes row groups the query box misses") {
    import org.apache.spark.sql.functions._
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dir = graft.ops.OptOps.zorderedOrders(spark, d)
      val q = spark.read.parquet(dir)
        .filter(col("o_custkey").between(30, 90) &&
                col("o_odate") >= lit("1996-01-01").cast("date") &&
                col("o_odate") < lit("1997-01-01").cast("date"))
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScan in plan"))
      val scanned = scan.metrics("numOutputRows").value
      val total = graft.Tables.orders(spark, d).count()
      assert(scanned < total,
        s"scan read all $total rows — no row group was pruned by the z-layout stats")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None    => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("agg_max_by: argmax keys equal the window-rank derivation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("agg_max_by")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val v = col("o_totalprice") + col("o_orderkey") * 1e-6
    val w = Window.partitionBy("o_orderpriority")
    val ranked = graft.Tables.orders(spark, d)
      .withColumn("rmax", row_number().over(w.orderBy(v.desc)))
      .withColumn("rmin", row_number().over(w.orderBy(v.asc)))
      .filter(col("rmax") === 1 || col("rmin") === 1)
      .collect()
    ranked.filter(_.getAs[Int]("rmax") == 1).foreach { r =>
      val grp = r.getAs[String]("o_orderpriority")
      assert(got(grp)._1 === r.getAs[Long]("o_orderkey"),
        s"priciest_key mismatch for $grp")
    }
    ranked.filter(_.getAs[Int]("rmin") == 1).foreach { r =>
      val grp = r.getAs[String]("o_orderpriority")
      assert(got(grp)._2 === r.getAs[Long]("o_orderkey"),
        s"cheapest_key mismatch for $grp")
    }
  }

  test("llm_char_entropy: distributed moments equal a direct per-string computation") {
    val rows = SparkEntry.queries("llm_char_entropy")(spark, d).collect()
    assert(rows.nonEmpty)
    val texts = graft.Tables.documents(spark, d)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 5)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.filter(r => texts.contains(r.getLong(0))).foreach { r =>
      val s2 = texts(r.getLong(0))
      val counts = s2.groupBy(identity).values.map(_.length.toDouble)
      val n = s2.length.toDouble
      val h = counts.map(c => -(c / n) * (math.log(c / n) / math.log(2))).sum
      assert(r.getLong(1) === s2.length.toLong, s"char count for doc ${r.getLong(0)}")
      assert(math.abs(r.getDouble(2) - h) < 1e-3,
        s"doc ${r.getLong(0)}: distributed ${r.getDouble(2)} vs direct $h")
    }
  }

  test("agg_regression: slope equals covar_pop/var_pop (closed form)") {
    import org.apache.spark.sql.functions._
    val fit = SparkEntry.queries("agg_regression")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val closed = graft.Tables.orders(spark, d)
      .groupBy("o_orderpriority")
      .agg((covar_pop(col("o_totalprice"), col("o_custkey")) /
            var_pop(col("o_custkey"))).as("m"),
           avg("o_totalprice").as("my"), avg("o_custkey").as("mx"))
      .collect()
    closed.foreach { r =>
      val (slope, intercept) = fit(r.getString(0))
      val m = r.getDouble(1)
      assert(math.abs(slope - m) < 5e-4, s"slope $slope vs covar/var $m")
      assert(math.abs(intercept - (r.getDouble(2) - m * r.getDouble(3))) < 5e-2,
        s"intercept $intercept vs ȳ − m·x̄")
    }
  }

  test("sink_dynamic_overwrite: dynamic keeps sibling partitions, static drops them") {
    import org.apache.spark.sql.functions._
    // the contract fixture (dynamic) must still contain several year dirs
    val fixture = new java.io.File(graft.ops.ScanOps.dynOverwriteDir(spark, d))
    val yrDirs = fixture.listFiles().filter(f => f.isDirectory && f.getName.startsWith("yr="))
    assert(yrDirs.length > 1, s"dynamic overwrite left only ${yrDirs.map(_.getName).toSeq}")
    // the static-mode contrast on a throwaway copy: same overwrite wipes
    // every untouched partition
    val dir = graft.ops.ScanOps.tmpDir("graft_statover") + "/t"
    val base = graft.Tables.orders(spark, d).withColumn("yr", year(col("o_orderdate")))
    base.write.partitionBy("yr").parquet(dir)
    base.filter(col("yr") === 1997)
      .write.partitionBy("yr").mode("overwrite").parquet(dir)
    val left = spark.read.parquet(dir).select("yr").distinct().collect().map(_.getInt(0))
    assert(left.toSeq === Seq(1997),
      s"static overwrite should leave only 1997, left ${left.toSeq}")
  }

  test("src_csv_malformed: FAILFAST throws, DROPMALFORMED shrinks to the clean rows") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "o_orderkey LONG, o_totalprice DOUBLE, o_orderpriority STRING")
    val dir = graft.ops.ScanOps.badCsvDir(spark, d)
    // force real field parsing: a bare count() takes the CSV count fast
    // path (rows are counted without parsing fields, so FAILFAST never
    // sees the malformed price)
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST").csv(dir)
        .agg(org.apache.spark.sql.functions.sum("o_totalprice")).collect()
    }
    // collect the full schema: a bare count() (or a pruned projection)
    // skips parsing the price field, and DROPMALFORMED only drops rows
    // malformed w.r.t. the columns actually read
    val dropped = spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(dir)
      .select("o_orderkey", "o_totalprice", "o_orderpriority").collect().length.toLong
    val expected = graft.Tables.orders(spark, d)
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 10 =!= 3).count()
    assert(dropped === expected, s"DROPMALFORMED kept $dropped, expected $expected")
  }

  test("win_gap_fill: contiguous per-user grid, forward fill carries the last value") {
    val rows = SparkEntry.queries("win_gap_fill")(spark, d).collect()
    assert(rows.nonEmpty)
    def epochDay(r: org.apache.spark.sql.Row): Long =
      r.getTimestamp(1).toLocalDateTime.toLocalDate.toEpochDay
    rows.groupBy(_.getLong(0)).foreach { case (uid, rs) =>
      val sorted = rs.sortBy(epochDay)
      // grid density: consecutive days differ by exactly one
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(epochDay(b) - epochDay(a) === 1L,
            s"user $uid grid has a hole at ${b.getTimestamp(1)}")
        case _ => ()
      }
      // forward fill: filled is total and equals the last observation
      var lastSeen = Double.NaN
      sorted.foreach { r =>
        if (!r.isNullAt(2)) lastSeen = r.getDouble(2)
        assert(!r.isNullAt(3), s"user $uid has null filled at ${r.getTimestamp(1)}")
        assert(r.getDouble(3) === lastSeen,
          s"user $uid filled ${r.getDouble(3)} != last observed $lastSeen")
      }
    }
  }

  test("win_cumulative_distinct: monotone per supplier, final month equals exact distinct") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("win_cumulative_distinct")(spark, d).collect()
    assert(rows.nonEmpty)
    val exact = graft.Tables.lineitem(spark, d)
      .groupBy("l_suppkey")
      .agg(countDistinct("l_partkey").as("nd"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_.getLong(0)).foreach { case (sk, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(1).getTime)
      // running distinct is monotone non-decreasing month over month
      sorted.map(_.getLong(2)).sliding(2).foreach {
        case Array(a, b) => assert(a <= b, s"supplier $sk cumdistinct dropped $a -> $b")
        case _ => ()
      }
      val (nd, n) = exact(sk)
      assert(sorted.last.getLong(2) === nd,
        s"supplier $sk final parts_seen ${sorted.last.getLong(2)} != exact distinct $nd")
      assert(rs.map(_.getLong(3)).sum === n,
        s"supplier $sk monthly line counts don't partition its rows")
    }
  }

  test("win_moving_median: frame never exceeds 7 rows, median brackets the frame min/max") {
    val rows = SparkEntry.queries("win_moving_median")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (sk, rs) =>
      val qty = rs.map(r => (String.valueOf(r.get(1)), r.getLong(2), r.getInt(3),
                             r.getDouble(4), r.getDouble(5), r.getLong(7)))
        .sortBy(t => (t._1, t._2, t._3))
      qty.zipWithIndex.foreach { case ((_, _, _, _, med, n7), i) =>
        assert(n7 === math.min(i + 1, 7).toLong, s"supplier $sk frame size $n7 at row $i")
        val frame = qty.slice(math.max(0, i - 6), i + 1).map(_._4)
        assert(med >= frame.min - 1e-9 && med <= frame.max + 1e-9,
          s"supplier $sk med7 $med outside frame [${frame.min}, ${frame.max}]")
        // odd frames: the exact median is a frame member
        if (frame.length % 2 == 1)
          assert(frame.exists(v => math.abs(v - med) < 0.005),
            s"supplier $sk odd-frame median $med not a member of $frame")
      }
    }
  }

  test("fn_struct_nested: array-of-struct field math is consistent with the source scalars") {
    val rows = SparkEntry.queries("fn_struct_nested")(spark, d).collect()
    assert(rows.nonEmpty)
    val bal = graft.Tables.customer(spark, d)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val b = bal(r.getLong(0))
      val half = r.getDouble(4)
      assert(math.abs(half - b / 2) < 5e-5,
        s"cust ${r.getLong(0)} half_bal $half != acctbal/2 ${b / 2}")
      val expect = (BigDecimal(b).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        + BigDecimal(b / 2).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(5) - expect) < 5e-4,
        s"cust ${r.getLong(0)} tag_sum ${r.getDouble(5)} != $expect")
    }
  }

  test("graph_sssp: weighted distances bracketed by BFS hop counts (1 ≤ w ≤ 5)") {
    val sssp = SparkEntry.queries("graph_sssp")(spark, d).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val bfs = SparkEntry.queries("graph_bfs")(spark, d).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(sssp.values.min === 0, "no zero-distance seed in the SSSP frame")
    sssp.foreach { case (n, dw) =>
      val dh = bfs.getOrElse(n, fail(s"SSSP reached $n but BFS (larger cap) did not"))
      // any walk of h hops weighs ≥ h, and the BFS-shortest walk (≤ cap
      // hops by membership) weighs ≤ 5·h — so hop count brackets weight
      assert(dh <= graft.ops.GraphOps.SsspRounds, s"$n beyond the SSSP hop cap")
      assert(dw >= dh && dw <= 5 * dh || (dw == 0 && dh == 0),
        s"$n: weighted dist $dw outside [${dh}, ${5 * dh}]")
    }
  }

  test("llm_hybrid_rrf: fused score equals the reciprocal-rank identity") {
    val rows = SparkEntry.queries("llm_hybrid_rrf")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lex = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getInt(2))
      val den = if (r.isNullAt(3)) 0.0 else 1.0 / (60 + r.getInt(3))
      assert(math.abs(r.getDouble(1) - (lex + den)) < 1e-6,
        s"rrf ${r.getDouble(1)} != 1/(60+rk) sum for $r")
      assert(!(r.isNullAt(2) && r.isNullAt(3)), s"row with no nominating list: $r")
    }
  }

  test("opt_aqe_skew: AQE splits the hot-key partition (skewed shuffle read)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = graft.ops.OptOps.skewJoinFrame(spark, d)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skewed"),
        s"no skewed AQEShuffleRead in the final adaptive plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("agg_bitmap_distinct equals countDistinct bit-for-bit") {
    import org.apache.spark.sql.functions._
    val viaBitmap = SparkEntry.queries("agg_bitmap_distinct")(spark, d).collect()
    val exact = graft.Tables.orders(spark, d)
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_custs"))
      .orderBy("o_orderpriority").collect()
    assert(viaBitmap.toSeq === exact.toSeq,
      "bitmap popcount-sum diverged from countDistinct")
  }

  test("fn_try_arith: each try_* NULL-domain is exactly the declared one") {
    val rows = SparkEntry.queries("fn_try_arith")(spark, d).collect()
    assert(rows.nonEmpty)
    val evs = graft.Tables.events(spark, d)
      .select("event_id", "user_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0); val uid = evs(id)
      assert(r.isNullAt(1) === (uid % 5 == 0), s"div_mod5 null-domain wrong at $id")
      assert(r.isNullAt(2) === (uid > 1), s"mul_of overflow-domain wrong at $id")
      assert(r.isNullAt(3) === (uid != 0), s"add_of overflow-domain wrong at $id")
      assert(r.isNullAt(5) === (id % 4 == 3), s"elem bounds-domain wrong at $id")
    }
  }

  test("sql_parameterized: bound parameters equal inlined literals (parser forwards ParameterContext)") {
    // regression pin for AsOfSqlParser.parsePlanWithParameters — without the
    // delegation, every spark.sql(text, args) in the session dies with
    // UNBOUND_SQL_PARAMETER because the ParserInterface default drops args
    val bound = SparkEntry.queries("sql_parameterized")(spark, d).collect()
    val inlined = spark.sql("""
      SELECT n_name, count(*) AS n, round(sum(o_totalprice), 2) AS rev
      FROM customer_m
      JOIN orders_m ON c_custkey = o_custkey
      JOIN nation_m ON c_nationkey = n_nationkey
      WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 300000
      GROUP BY n_name
      ORDER BY n_name""").collect()
    assert(bound.toSeq === inlined.toSeq, "parameter binding diverged from literals")
  }

  test("src_jdbc_partitioned: the read splits into 4 stride partitions") {
    val df = spark.read
      .option("partitionColumn", "o_custkey")
      .option("lowerBound", "0").option("upperBound", "10000")
      .option("numPartitions", "4")
      .jdbc(graft.ops.ScanOps.jdbcOrdersUrl(spark, d), "orders_src",
            graft.ops.ScanOps.derbyProps)
    assert(df.rdd.getNumPartitions === 4, "JDBC read did not split into 4 partitions")
    assert(df.count() === Tables.orders(spark, d).count(),
      "stride predicates lost or duplicated rows")
  }

  test("join_asof_tolerance: keeps all purchases; match nulled exactly when stale or absent") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("join_asof_tolerance")(spark, d).collect()
    val nPurch = Tables.events(spark, d)
      .filter(col("event_type") === "purchase").count()
    assert(rows.length === nPurch, "left-outer contract: one row per purchase")
    val strict = SparkEntry.queries("join_asof")(spark, d).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(3)).toMap
    val tolUs = 3L * 86400 * 1000000
    var matched = 0; var nulled = 0
    rows.foreach { r =>
      val id = r.getLong(0)
      strict.get(id) match {
        case Some(sts) if r.getTimestamp(2).getTime * 1000 - sts.getTime * 1000 <= tolUs =>
          matched += 1
          assert(r.getTimestamp(3) === sts, s"fresh match lost for purchase $id")
        case _ =>
          nulled += 1
          assert(r.isNullAt(3), s"stale/absent match not nulled for purchase $id")
      }
    }
    assert(matched > 0 && nulled > 0,
      s"tolerance not exercised both ways (matched=$matched nulled=$nulled)")
  }

  test("win_gaps_islands: streaks equal a direct scan over each user's sorted day set") {
    val got = SparkEntry.queries("win_gaps_islands")(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val byUser = graft.Tables.events(spark, d)
      .select(org.apache.spark.sql.functions.col("user_id"),
              org.apache.spark.sql.functions.to_date(
                org.apache.spark.sql.functions.col("ts")).as("day"))
      .distinct().collect()
      .map(r => r.getLong(0) -> r.getDate(1).toLocalDate)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got.keySet === byUser.keySet)
    byUser.foreach { case (u, days) =>
      val runs = days.foldLeft(List.empty[Long]) { (acc, day) =>
        acc match {
          case h :: t if days.contains(day.minusDays(1)) => (h + 1) :: t
          case _ => 1L :: acc
        }
      }
      assert(got(u) === ((runs.length.toLong, runs.max, days.length.toLong)),
        s"streaks mismatch for user $u")
    }
  }

  test("graph_hits: analytic small graph — authorities follow in-link mass from strong hubs") {
    import spark.implicits._
    // c1→{s1,s2}, c2→{s1}, c3→{s2,s3}: s1 and s2 each have 2 in-links but
    // from different hub mixes; s3 only the weaker c3. Reference = the
    // same max-normalized 6dp-rounded iteration run locally.
    val edges = Seq(("c1","s1"),("c1","s2"),("c2","s1"),("c3","s2"),("c3","s3"))
    val got = graft.ops.GraphOps.hitsOf(edges.toDF("src", "dst"), 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def rnd(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var a = edges.map(_._2).distinct.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val hr = edges.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap
      val hm = hr.values.max
      val h = hr.map { case (k, v) => k -> rnd(v / hm) }
      val ar = edges.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap
      val am = ar.values.max
      a = ar.map { case (k, v) => k -> rnd(v / am) }
    }
    assert(got.keySet === a.keySet)
    a.foreach { case (n, v) =>
      assert(math.abs(got(n) - v) < 1e-9, s"authority mismatch at $n: got ${got(n)}, want $v") }
    // structural sanity: the best-backed authority normalizes to 1, and
    // the hub-poor s3 ranks strictly below both s1 and s2
    assert(got.values.max === 1.0)
    assert(got("s3") < got("s1") && got("s3") < got("s2"))
  }

  test("graph_kcore: planted K4 + pendant chain — pendants peel, the 2-core is exactly the K4") {
    import spark.implicits._
    // K4 on {a,b,c,d}; pendant chain a—e—f. Round 1 drops f (deg 1),
    // round 2 drops e (deg 1 once f is gone); the K4 survives with every
    // node at degree 3 — the fixed 4-round cap exceeds this peel depth,
    // so the bounded peel equals the exact 2-core here.
    val und = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
                  ("a","e"),("e","f"))
    val sym = (und ++ und.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = graft.ops.GraphOps.kcoreOf(sym, 2, 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("graph_clustering_coeff: planted K4 all 1.0, path midpoint 0.0, open wedge corner interpolates") {
    import spark.implicits._
    // Oriented (a<b) input: K4 on {a,b,c,d} (coeff 1 everywhere) plus an
    // open wedge d—x, d—y (x,y not adjacent): d gains 2 triangle-less
    // neighbors → deg 5, still 3 triangles → coeff 2·3/(5·4) = 0.3; x and
    // y have deg 1 and are excluded by the deg ≥ 2 floor.
    val e = Seq(("a","b"),("a","c"),("a","d"),("b","c"),("b","d"),("c","d"),
                ("d","x"),("d","y")).toDF("a", "b")
    val got = graft.ops.GraphOps.clusteringCoeffOf(e)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      "a" -> ((3L, 3L, 1.0)), "b" -> ((3L, 3L, 1.0)), "c" -> ((3L, 3L, 1.0)),
      "d" -> ((5L, 3L, 0.3))))
  }

  test("graph_label_propagation: two planted triangles each converge to one community label") {
    import spark.implicits._
    // Two disjoint triangles; the (count, label)-max rule is replayed by
    // a local reference iteration (same shape as the graph_hits pin) and
    // must agree node-for-node; structurally, each triangle must end up
    // single-labeled and the two components must not share a label.
    val und = Seq(("a","b"),("b","c"),("a","c"), ("x","y"),("y","z"),("x","z"))
    val sym = und ++ und.map(p => (p._2, p._1))
    val got = graft.ops.GraphOps.lpaOf(sym.toDF("src", "dst"), 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    var lbl = sym.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = sym.groupBy(_._2).map { case (node, es) =>
        val freq = es.groupBy(e => lbl(e._1)).view.mapValues(_.size).toMap
        node -> freq.toSeq.maxBy { case (l, c) => (c, l) }._1
      }
    }
    assert(got === lbl)
    assert(Set("a","b","c").map(got).size === 1)
    assert(Set("x","y","z").map(got).size === 1)
    assert(got("a") !== got("x"))
  }

  test("win_ewma_block: block form ≡ plain form on bounded series, survives the overflow regime plain fails") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Regime 1 — bounded series (corpus shape): the two forms must agree
    // at the 4dp gate rounding on every row.
    val daily = graft.Tables.events(spark, d)
      .filter(col("user_id") < 50)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 2).as("v"))
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getDate(1).toString)
    val plain = graft.ops.WinOps.ewmaPlainOf(daily, "user_id", "day", "v", 0.3)
      .collect().map(r => key(r) -> r.getDouble(3)).toMap
    val block = graft.ops.WinOps.ewmaBlockOf(daily, "user_id", "day", "v", 0.3)
      .collect().map(r => key(r) -> r.getDouble(3)).toMap
    assert(plain.keySet === block.keySet)
    plain.foreach { case (k, v) =>
      assert(math.abs(v - block(k)) <= 1e-4 + 1e-9, s"ewma mismatch at $k: plain=$v block=${block(k)}")
    }

    // Regime 2 — a 3000-row single-key series: pow(1/q, rn) overflows
    // double (~row 2000 at α=0.3), so the plain ratio form degenerates to
    // Inf/Inf = NaN while the block form stays finite and converges to the
    // exact fixpoint of a constant series (ewma of constant c is c).
    val long = (1 to 3000).map(i => (1L, i, 5.0)).toDF("k", "ord", "v")
    val plainTail = graft.ops.WinOps.ewmaPlainOf(long, "k", "ord", "v", 0.3)
      .filter(col("ord") === 3000).collect().head.getDouble(3)
    assert(plainTail.isNaN, s"expected plain form to overflow to NaN, got $plainTail")
    val blockOut = graft.ops.WinOps.ewmaBlockOf(long, "k", "ord", "v", 0.3)
      .select("ord", "ewma").collect().map(r => r.getInt(0) -> r.getDouble(1))
    assert(blockOut.length === 3000)
    blockOut.foreach { case (ord, e) =>
      assert(!e.isNaN && !e.isInfinite, s"block form not finite at row $ord")
      assert(math.abs(e - 5.0) < 1e-4, s"constant-series ewma must be the constant at row $ord, got $e")
    }
  }

  test("win_gap_interpolate: planted gappy series interpolates linearly, observed rows pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: anchors at day 0 (v=10) and day 3 (v=40) → gaps at 20, 30;
    // user 2: a second observation mid-series checks anchor switching
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 10.0),
      (1L, "2024-01-04 00:00:00", 40.0),
      (2L, "2024-01-01 00:00:00", 0.0),
      (2L, "2024-01-03 00:00:00", 9.0),
      (2L, "2024-01-05 00:00:00", 1.0)
    ).toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = graft.ops.WinOps.gapInterpolateOf(ev, "user_id", "ts", "value")
      .orderBy("user_id", "day").collect()
      .map(r => (r.getLong(0),
                 r.getTimestamp(1).toLocalDateTime.getDayOfMonth,
                 r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 1, 10.0), (1L, 2, 20.0), (1L, 3, 30.0), (1L, 4, 40.0),
      (2L, 1, 0.0), (2L, 2, 4.5), (2L, 3, 9.0), (2L, 4, 5.0), (2L, 5, 1.0)))
  }

  test("win_gap_interpolate: corpus interp is total and inside its anchor interval") {
    val rows = SparkEntry.queries("win_gap_interpolate")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (uid, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(1).getTime)
      var lastObs = Double.NaN
      val firstObs = sorted.find(!_.isNullAt(2)).get.getDouble(2)
      var nextIdx = 0
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(!r.isNullAt(3), s"user $uid has null interp at ${r.getTimestamp(1)}")
        if (!r.isNullAt(2)) {
          assert(r.getDouble(3) === r.getDouble(2),
            s"user $uid observed row rewritten by interpolation")
          lastObs = r.getDouble(2)
        } else {
          val next = sorted.drop(i).find(!_.isNullAt(2)).get.getDouble(2)
          val (lo, hi) = (math.min(lastObs, next), math.max(lastObs, next))
          assert(r.getDouble(3) >= lo - 1e-9 && r.getDouble(3) <= hi + 1e-9,
            s"user $uid interp ${r.getDouble(3)} escapes [$lo, $hi]")
        }
      }
      assert(!sorted.head.isNullAt(2) && !sorted.last.isNullAt(2),
        s"user $uid grid does not start/end at an observation")
    }
  }

  test("llm_unicode_clean: canonical equivalence holds, strip recovers ASCII, forms diverge in length") {
    val rows = SparkEntry.queries("llm_unicode_clean")(spark, d).collect()
    assert(rows.nonEmpty)
    val pres = graft.Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.substring(
                org.apache.spark.sql.functions.col("text"), 1, 120).as("pre"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0); val pre = pres(id)
      assert(r.getString(1) === pre, s"doc $id: accent strip did not recover the source")
      assert(r.getBoolean(2), s"doc $id: NFC(decomposed) != precomposed")
      val nAe = pre.count(c => c == 'a' || c == 'e')
      assert(r.getInt(4) - r.getInt(3) === nAe,
        s"doc $id: NFD adds one combining mark per a/e (${r.getInt(4)} vs ${r.getInt(3)})")
      assert(r.getInt(5) - r.getInt(3) === nAe,
        s"doc $id: each precomposed accent is 2 UTF-8 bytes")
    }
  }

  test("opt_aqe_coalesce: AQE merges the 256 initial reducers down to a handful") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = graft.ops.OptOps.coalesceAggFrame(spark, d)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
        s"no coalesced AQEShuffleRead in the final adaptive plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("src_parquet_bloom: the written footer carries a bloom on o_custkey only") {
    val dir = graft.ops.ScanOps.bloomOrders(spark, d)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = r.getFooter.getBlocks.get(0).getColumns
      def meta(name: String) = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == name)
        .getOrElse(fail(s"column $name missing from footer"))
      assert(meta("o_custkey").getBloomFilterOffset >= 0,
        "no bloom filter written for o_custkey")
      assert(meta("o_orderkey").getBloomFilterOffset < 0,
        "bloom leaked onto a column it was not enabled for")
    } finally r.close()
  }

  test("stream_checkpoint_restart: no row is processed twice across the restart") {
    val rows = SparkEntry.queries("stream_checkpoint_restart")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(3),
        s"${r.getString(0)}: n=${r.getLong(1)} != distinct ids=${r.getLong(3)} — duplicated micro-batch")
    }
    val total = graft.Tables.events(spark, d).count()
    assert(rows.map(_.getLong(1)).sum === total,
      "sink row count != source row count — a restart dropped or replayed data")
  }

  test("agg_ab_ttest: matches a direct Welch computation on the raw cohorts") {
    val r = SparkEntry.queries("agg_ab_ttest")(spark, d).collect().head
    def cohort(p: String): Array[Double] = graft.Tables.orders(spark, d)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === p)
      .select("o_totalprice").collect().map(_.getDouble(0))
    val (a, b) = (cohort("1-URGENT"), cohort("5-LOW"))
    def stats(x: Array[Double]) = {
      val n = x.length; val m = x.sum / n
      (n, m, x.map(v => (v - m) * (v - m)).sum / (n - 1))
    }
    val (na, ma, va) = stats(a); val (nb, mb, vb) = stats(b)
    val se = math.sqrt(va / na + vb / nb)
    val t = (ma - mb) / se
    val df = math.pow(va / na + vb / nb, 2) /
      (math.pow(va / na, 2) / (na - 1) + math.pow(vb / nb, 2) / (nb - 1))
    assert(r.getLong(0) === na.toLong && r.getLong(1) === nb.toLong)
    assert(math.abs(r.getDouble(2) - ma) < 0.01, "mean_a diverged")
    assert(math.abs(r.getDouble(6) - t) < 0.001, s"t_stat ${r.getDouble(6)} vs direct $t")
    assert(math.abs(r.getDouble(7) - df) < 0.5, s"welch_df ${r.getDouble(7)} vs direct $df")
  }

  test("win_rolling_zscore: trailing-window z matches a direct sequential re-derivation") {
    val out = SparkEntry.queries("win_rolling_zscore")(spark, d).collect()
    assert(out.nonEmpty)
    // l_shipdate is TIMESTAMP_NTZ → rows surface java.time.LocalDateTime
    def ntzEpoch(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i).toEpochSecond(java.time.ZoneOffset.UTC)
    val raw = graft.Tables.lineitem(spark, d)
      .filter(org.apache.spark.sql.functions.col("l_suppkey") < 20)
      .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      .collect()
      .map(r => (r.getLong(0), ntzEpoch(r, 1), r.getLong(2),
                 r.getInt(3).toLong, r.getDouble(4)))
      .groupBy(_._1)
    // per-supplier output size: first 8 rows are warm-up, rest emit
    out.groupBy(_.getLong(0)).foreach { case (sk, rs) =>
      assert(rs.length === math.max(0, raw(sk).length - 8),
        s"supplier $sk emitted ${rs.length} rows, expected n-8")
    }
    // full value check on one mid-sized supplier
    val sk = raw.minBy { case (_, xs) => math.abs(xs.length - 60) }._1
    val series = raw(sk).sortBy(t => (t._2, t._3, t._4)).map(_._5)
    val expect = series.indices.drop(8).map { i =>
      val wnd = series.slice(math.max(0, i - 20), i)
      val mu = wnd.sum / wnd.length
      val sd = math.sqrt(wnd.map(v => (v - mu) * (v - mu)).sum / (wnd.length - 1))
      if (sd > 0) BigDecimal(( series(i) - mu) / sd)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      else Double.NaN
    }
    val got = out.filter(_.getLong(0) == sk)
      .sortBy(r => (ntzEpoch(r, 1), r.getLong(2), r.getInt(3)))
      .map(r => if (r.isNullAt(5)) Double.NaN else r.getDouble(5))
    assert(got.length === expect.length)
    got.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
      if (e.isNaN) assert(g.isNaN, s"row $i: expected NULL z (σ=0), got $g")
      else assert(math.abs(g - e) <= 0.00011, s"row $i: z $g vs direct $e")
    }
  }

  test("stream_session_dynamic: sessions disjoint per user, never fewer than fixed-45m sessions") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("stream_session_dynamic")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (uid, rs) =>
      val sorted = rs.sortBy(_.getTimestamp(1).getTime)
      sorted.foreach { r =>
        assert(r.getTimestamp(2).getTime - r.getTimestamp(1).getTime >= 15 * 60 * 1000L,
          s"user $uid: session shorter than the minimum gap")
        assert(r.getLong(3) >= 1)
      }
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getTimestamp(1).getTime >= a.getTimestamp(2).getTime,
            s"user $uid: overlapping sessions — merge semantics broken")
        case _ => ()
      }
    }
    // shrinking any event's gap can only SPLIT sessions, so the dynamic
    // count (15m views / 45m rest) is >= the all-45m fixed count
    val fixed = graft.Tables.events(spark, d)
      .groupBy(session_window(col("ts"), "45 minutes"), col("user_id"))
      .count().count()
    assert(rows.length >= fixed,
      s"dynamic sessions ${rows.length} < fixed-45m sessions $fixed")
  }

  test("fn_explode_outer: empty parents survive exactly once with a NULL element") {
    val rows = SparkEntry.queries("fn_explode_outer")(spark, d).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    var sawEmpty = false; var sawFull = false
    byDoc.foreach { case (id, rs) =>
      val n = rs.head.getInt(1)
      if (n == 0) {
        sawEmpty = true
        assert(rs.length === 1 && rs.head.isNullAt(2),
          s"doc $id: empty array must yield exactly one NULL row")
      } else {
        sawFull = true
        assert(rs.length === n && rs.forall(!_.isNullAt(2)),
          s"doc $id: expected $n non-null tokens, got ${rs.length}")
      }
    }
    assert(sawEmpty && sawFull, "fixture must exercise both branches")
  }

  test("agg_grouping_id: bitmask composes from per-column flags; levels partition the output") {
    val rows = SparkEntry.queries("agg_grouping_id")(spark, d).collect()
    rows.foreach { r =>
      assert(r.getLong(3) === r.getInt(4) * 2L + r.getInt(5),
        "grouping_id != grouping(pri)*2 + grouping(status)")
    }
    assert(rows.count(_.getString(2) == "grand_total") === 1)
    val detail = rows.filter(_.getString(2) == "detail")
    val pairs = graft.Tables.orders(spark, d)
      .select("o_orderpriority", "o_orderstatus").distinct().count()
    assert(detail.length.toLong === pairs, "detail tier != distinct key pairs")
    val n = graft.Tables.orders(spark, d).count()
    assert(rows.filter(_.getString(2) == "grand_total").head.getLong(6) === n)
  }

  test("graph_copurchase: weights recount exactly; canonical pair order; top-5 per part") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("graph_copurchase")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonical (part_a < part_b)")
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 5)
    }
    // direct recount of the heaviest returned pair
    val top = rows.maxBy(_.getLong(2))
    val li = graft.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val ordersWithA = li.filter(col("l_partkey") === top.getLong(0))
      .select(col("l_orderkey")).collect().map(_.getLong(0)).toSet
    val w = li.filter(col("l_partkey") === top.getLong(1))
      .collect().map(_.getLong(0)).count(ordersWithA.contains)
    assert(top.getLong(2) === w.toLong,
      s"pair (${top.getLong(0)},${top.getLong(1)}) weight ${top.getLong(2)} != recount $w")
  }

  test("src_json_variant: variant roundtrip is lossless (n == distinct ids, totals match)") {
    val rows = SparkEntry.queries("src_json_variant")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(4),
      s"${r.getString(0)}: duplicate or dropped records through the variant path"))
    assert(rows.map(_.getLong(1)).sum === graft.Tables.events(spark, d).count())
  }

  test("llm_matryoshka_ann: overlap bounded; full-width truncation is a no-op (recall 1)") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("llm_matryoshka_ann")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val o = r.getLong(1)
      assert(o >= 0 && o <= 5)
      assert(math.abs(r.getDouble(2) - o / 5.0) < 1e-9, "recall != overlap/5")
    }
    // control: "truncating" to the full 64 dims must reproduce the full
    // ranking exactly — pins the two-ranking machinery itself
    val q = Tables.embeddingsWide(spark, d)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .filter(col("q_id") % 50 === 0)
    val c = Tables.embeddings(spark, d)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val full = graft.ops.LlmOps.knnOf(q, c, 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sliced = graft.ops.LlmOps.knnOf(
        q.select(col("q_id"), expr("slice(q_emb, 1, 64)").as("q_emb")),
        c.select(col("n_id"), expr("slice(n_emb, 1, 64)").as("n_emb")), 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === sliced)
  }

  test("llm_feature_hashing: doc vectors recompute exactly from plain-JVM md5") {
    val rows = SparkEntry.queries("llm_feature_hashing")(spark, d).collect()
    assert(rows.nonEmpty)
    val texts = graft.Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.take(10).foreach { r =>
      val id = r.getLong(0)
      // vec surfaces as a CSV string (the gate comparator can't sort
      // array leaves — see the key's doc); parse it back to longs
      val vec = r.getString(1).split(",").map(_.toLong).toSeq
      val want = new Array[Long](32)
      texts(id).split(" ").filter(_.nonEmpty).foreach { t =>
        val h = md5hex(t)
        val idx = (java.lang.Long.parseLong(h.substring(0, 4), 16) % 32).toInt
        val sgn = if (java.lang.Long.parseLong(h.substring(4, 5), 16) % 2 == 0) 1L else -1L
        want(idx) += sgn
      }
      assert(vec.toSeq === want.toSeq, s"doc $id hashed vector diverges")
      assert(r.getInt(2) === want.count(_ != 0))
      val l2 = math.sqrt(want.map(v => v.toDouble * v).sum)
      assert(math.abs(r.getDouble(3) - l2) < 5e-5, s"doc $id l2")
    }
  }

  test("graph_random_walk: full-length walks whose steps are edges and replay from plain-JVM md5") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("graph_random_walk")(spark, d).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(rows.nonEmpty)
    val L = graft.ops.GraphOps.RandomWalkLen
    val bySeed = rows.groupBy(_._1)
    // the key's own repeat-trade adjacency, re-derived and collected once
    val adj = graft.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 3)
      .select(concat(lit("c"), col("o_custkey")).as("a"),
              concat(lit("s"), col("l_suppkey")).as("b"))
      .collect().flatMap(r => Seq(r.getString(0) -> r.getString(1),
                                  r.getString(1) -> r.getString(0)))
      .distinct.groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2).sorted }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    bySeed.foreach { case (seed, ws) =>
      val path = ws.sortBy(_._2)
      assert(path.length === L + 1, s"$seed: walk truncated (${path.length})")
      assert(path.head._3 === seed)
      path.sliding(2).foreach {
        case Array((_, st, v), (_, _, w)) =>
          val nbrs = adjOrFail(adj, v)
          val choice = (java.lang.Long.parseLong(
            md5hex(s"$seed:${st + 1}:$v").substring(0, 6), 16) % nbrs.length).toInt
          assert(nbrs(choice) === w,
            s"$seed step ${st + 1}: walked to $w, md5 choice says ${nbrs(choice)}")
        case _ => ()
      }
    }
  }

  private def adjOrFail(adj: Map[String, Array[String]], v: String): Array[String] =
    adj.getOrElse(v, fail(s"walk visited $v which has no outgoing edges"))

  test("agg_bootstrap_ci: interval brackets the true mean, 32 resamples") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("agg_bootstrap_ci")(spark, d).collect().head
    assert(r.getLong(0) === 32L)
    val (lo, hi, bm) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    assert(lo <= bm && bm <= hi, s"boot mean $bm outside [$lo, $hi]")
    val trueMean = graft.Tables.orders(spark, d)
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("m")).head().getDouble(0)
    assert(lo <= trueMean && trueMean <= hi,
      s"true mean $trueMean outside the bootstrap CI [$lo, $hi]")
    assert(hi > lo, "degenerate CI")
  }

  test("opt_empty_relation: empty-input aggregate contract (one row, 0, NULLs)") {
    val rows = SparkEntry.queries("opt_empty_relation")(spark, d).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 0L)
    assert(rows.head.isNullAt(1) && rows.head.isNullAt(2))
  }

  test("agg_gini: in [0,1) and matches a direct sorted-rank computation") {
    val rows = SparkEntry.queries("agg_gini")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0 && r.getDouble(2) < 1,
      s"${r.getString(0)}: gini out of range"))
    val p = rows.head.getString(0)
    val xs = graft.Tables.orders(spark, d)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === p)
      .select("o_totalprice").collect().map(_.getDouble(0)).sorted
    val n = xs.length
    val direct = (2.0 * xs.zipWithIndex.map { case (x, i) => (i + 1).toDouble * x }.sum
      - (n + 1).toDouble * xs.sum) / (n.toDouble * xs.sum)
    assert(math.abs(rows.head.getDouble(2) - direct) < 1e-4,
      s"$p: gini ${rows.head.getDouble(2)} vs direct $direct")
  }

  test("obs_freshness: freshest source lags zero, lags non-negative, counts total") {
    val rows = SparkEntry.queries("obs_freshness")(spark, d).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(2) === 0L), "no source at the reference clock")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L)
      assert(r.getBoolean(3) === (r.getLong(2) <= 120L))
    }
    assert(rows.map(_.getLong(1)).sum === graft.Tables.events(spark, d).count())
  }

  test("graph_adamic_adar: the top pair's score recomputes from the raw adjacency") {
    val rows = SparkEntry.queries("graph_adamic_adar")(spark, d).collect()
    assert(rows.nonEmpty)
    val adj = graft.ops.GraphOps.repeatTradePairs(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySupp = adj.groupBy(_._2).map { case (s0, es) => s0 -> es.map(_._1).toSet }
    val top = rows.maxBy(_.getDouble(3))
    val (a, b) = (top.getString(0), top.getString(1))
    val shared = bySupp.filter { case (_, cs) => cs.contains(a) && cs.contains(b) }
    assert(shared.size.toLong === top.getLong(2), "n_common mismatch")
    // keys is a SET — mapping to 1/ln would collapse equal-degree terms
    val direct = shared.keys.toSeq
      .map(z => 1.0 / math.log(bySupp(z).size.toDouble)).sum
    assert(math.abs(top.getDouble(3) - direct) < 1e-3,
      s"($a,$b): aa ${top.getDouble(3)} vs direct $direct")
  }

  test("agg_weighted_median: half the weight lies at-or-below, half at-or-above") {
    val med = SparkEntry.queries("agg_weighted_median")(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = graft.Tables.lineitem(spark, d)
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .groupBy(_._1)
    rows.foreach { case (flag, xs) =>
      val m = med(flag)
      val total = xs.map(_._3).sum
      val below = xs.filter(_._2 <= m).map(_._3).sum
      val strictBelow = xs.filter(_._2 < m).map(_._3).sum
      assert(below >= total / 2, s"$flag: cum weight at median below half")
      assert(strictBelow < total / 2,
        s"$flag: a smaller value already covers half the weight — not minimal")
    }
  }
  test("agg_entropy: bounds 0 <= H <= log2(n_types), zero iff single type") {
    SparkEntry.queries("agg_entropy")(spark, d).collect().foreach { r =>
      val types = r.getInt(2)
      val h = r.getDouble(3)
      assert(h >= 0.0 && h <= math.log(types.toDouble) / math.log(2.0) + 1e-9,
        s"user ${r.getLong(0)}: H=$h outside [0, log2($types)]")
      if (types == 1) assert(h == 0.0)
    }
  }

  test("agg_ks_test: D in [0,1]; identical-sample KS is exactly 0") {
    val r = SparkEntry.queries("agg_ks_test")(spark, d).head()
    val dstat = r.getDouble(2)
    assert(dstat >= 0.0 && dstat <= 1.0)
    // same-vs-same ECDFs coincide at every point — D must be exactly 0
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val same = Tables.events(spark, d).filter(col("event_type") === "click")
      .groupBy("value").agg(count(lit(1)).as("ca"), count(lit(1)).as("cb"))
      .select(sum("ca").over(w).as("cuma"), sum("cb").over(w).as("cumb"),
              sum("ca").over(wAll).as("na"), sum("cb").over(wAll).as("nb"))
      .agg(max(abs(col("cuma") / col("na") - col("cumb") / col("nb"))))
      .head().getDouble(0)
    assert(same == 0.0)
  }

  test("agg_chi_square: nonnegative statistic, dof matches marginal cardinalities") {
    val r = SparkEntry.queries("agg_chi_square")(spark, d).head()
    assert(r.getDouble(2) >= 0.0)
    val docs = Tables.documents(spark, d)
    import org.apache.spark.sql.functions._
    val nl = docs.agg(countDistinct("lang")).head().getLong(0)
    val ns = docs.agg(countDistinct("source")).head().getLong(0)
    assert(r.getInt(1) === ((nl - 1) * (ns - 1)).toInt)
  }

  test("agg_mad_outliers: one user recomputed directly") {
    val out = SparkEntry.queries("agg_mad_outliers")(spark, d).collect()
    val uid = out.head.getLong(0)
    val xs = Tables.events(spark, d)
      .filter(org.apache.spark.sql.functions.col("user_id") === uid)
      .select("value").collect().map(_.getDouble(0)).sorted
    def q2(v: Array[Double]): Double = {
      val h = (v.length - 1) * 0.5
      val lo = v(h.toInt); val hi = v(math.ceil(h).toInt)
      lo + (h - h.toInt) * (hi - lo)
    }
    val med = q2(xs)
    val devs = xs.map(x => math.abs(x - med)).sorted
    val mad = q2(devs)
    val nOut = xs.count(x => math.abs(x - med) > 3.0 * 1.4826 * mad)
    val row = out.find(_.getLong(0) == uid).get
    assert(row.getLong(1) === xs.length)
    assert(math.abs(row.getDouble(2) - med) < 1e-4)
    assert(math.abs(row.getDouble(3) - mad) < 1e-4)
    assert(row.getLong(4) === nOut)
  }

  test("graph_modularity: Q recomputed locally from the LPA labels and edges") {
    val r = SparkEntry.queries("graph_modularity")(spark, d).head()
    val q = r.getDouble(2)
    assert(q >= -0.5 && q <= 1.0, s"modularity $q outside [-0.5, 1]")
    val lbl = SparkEntry.queries("graph_label_propagation")(spark, d)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val edges = graft.ops.GraphOps.repeatTradeEdges(spark, d)
      .collect().map(x => (x.getString(0), x.getString(1)))
    val m2 = edges.length.toDouble
    val byComm = edges.groupBy(e => lbl(e._1))
    val qLocal = byComm.values.map { es =>
      val intra = es.count(e => lbl(e._1) == lbl(e._2)).toDouble
      intra / m2 - math.pow(es.length / m2, 2)
    }.sum
    assert(r.getLong(0) === edges.length)
    assert(math.abs(q - qLocal) < 1e-3, s"Q $q vs local $qLocal")
  }

  test("llm_dpo_pairs: margins clear the floor and ids come from the group") {
    val rows = SparkEntry.queries("llm_dpo_pairs")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val grp = r.getLong(0)
      assert(r.getLong(2) - r.getLong(4) >= 10, "margin below floor")
      assert(r.getLong(1) % 50 === grp && r.getLong(3) % 50 === grp,
        "chosen/rejected escaped their prompt group")
      assert(r.getLong(1) !== r.getLong(3), "chosen == rejected")
    }
  }

  test("llm_hard_negatives: negatives never share the query label, ranks dense") {
    val rows = SparkEntry.queries("llm_hard_negatives")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      rs.foreach { r =>
        assert(r.getInt(1) !== r.getInt(4), s"query $qid: same-label negative")
        val cos = r.getDouble(5)
        assert(cos >= -1.0001 && cos <= 1.0001)
      }
      assert(rs.map(_.getInt(2)).sorted.toSeq === (1 to rs.length).toSeq)
    }
  }

  test("llm_rouge_overlap and llm_ttr_diversity: set algebra bounds hold") {
    SparkEntry.queries("llm_rouge_overlap")(spark, d).collect().foreach { r =>
      val (ct, rt, ov) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ov <= math.min(ct, rt), "overlap exceeds a set size")
      assert(r.getDouble(4) <= 1.0 && r.getDouble(5) <= 1.0)
    }
    SparkEntry.queries("llm_ttr_diversity")(spark, d).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "more types than tokens")
      val ttr = r.getDouble(3)
      assert(ttr > 0.0 && ttr <= 1.0)
    }
  }

  test("fn_ipv4 / fn_base64_codec: every roundtrip flag is true") {
    SparkEntry.queries("fn_ipv4")(spark, d).collect().foreach { r =>
      assert(r.getBoolean(5), s"ip ${r.getString(1)} failed format-parse roundtrip")
      val o1 = r.getString(1).split("\\.")(0).toInt
      assert(o1 >= 0 && o1 <= 255)
    }
    SparkEntry.queries("fn_base64_codec")(spark, d).collect().foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4),
        s"doc ${r.getLong(0)}: codec roundtrip broken")
    }
  }

  test("obs_drift_psi: PSI nonnegative (it is a symmetrized divergence)") {
    val r = SparkEntry.queries("obs_drift_psi")(spark, d).head()
    assert(r.getDouble(2) >= 0.0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("agg_sketch_decay: rolling merge equals exact windowed distinct; decay recomputes") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("agg_sketch_decay")(spark, d).collect()
    // exact ground truth: per-day distinct + trailing-7-day distinct from
    // a raw re-scan (the thing the bitmap merge must NEVER need but must
    // exactly equal)
    val ev = Tables.events(spark, d)
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .withColumn("di", datediff(col("day"), lit("2024-01-01").cast("date")))
    val days = ev.select("day", "di").distinct()
    val exactRoll = days.as("t")
      .join(ev.as("p"), col("p.di").between(col("t.di") - 6, col("t.di")))
      .groupBy(col("t.day")).agg(countDistinct(col("p.user_id")).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val daily = ev.groupBy("di").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val diOf = days.collect().map(r => r.getTimestamp(0) -> r.getInt(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (day, roll, dec, nd) =
        (r.getTimestamp(0), r.getLong(1), r.getDouble(2), r.getInt(3))
      assert(roll == exactRoll(day), s"$day: bitmap-merged rolling $roll " +
        s"!= exact windowed distinct ${exactRoll(day)}")
      val t = diOf(day)
      // decay recompute: sum over trailing 14 observed days of n_d/2^(t-d)
      // — every term exact in binary, so == comparison is legitimate
      val expDec = (math.max(0, t - 13) to t)
        .flatMap(dd => daily.get(dd).map(n => n.toDouble / (1L << (t - dd))))
        .sum
      assert(dec == expDec, s"$day: decayed $dec != recomputed $expDec")
      assert(nd == diOf.values.count(dd => dd >= t - 6 && dd <= t))
    }
    // the mergeable-sketch point: the FIRST day's rolling window is just
    // itself, so merge-of-one must equal that day's own distinct
    val first = rows.minBy(_.getTimestamp(0).getTime)
    assert(first.getLong(1) == daily(diOf(first.getTimestamp(0))))
  }

  test("obs_drift_embedding: planted drift is detected; identical halves are quiet") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two planted snapshots on the 4-dim unit sphere: expected clusters
    // near +e1, actual near +e2 ⇒ strong drift (low centroid cosine,
    // large PSI); then actual == expected ⇒ psi 0, centroid_cos 1
    def vec(main: Int, eps: Double): Seq[Float] = {
      val raw = Array.tabulate(4)(i => if (i == main) 1.0 else eps)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / n).toFloat).toSeq
    }
    val drifted = ((0 until 20).map(i => (true, vec(0, 0.01 * (i % 5)))) ++
                   (0 until 20).map(i => (false, vec(1, 0.01 * (i % 5)))))
      .toDF("is_exp", "embedding")
    val dr = graft.ops.ScanOps.embeddingDriftOf(drifted).head()
    assert(dr.getDouble(3) < 0.1,
      s"orthogonal clusters should have near-zero centroid cos, got ${dr.getDouble(3)}")
    assert(dr.getDouble(2) > 1.0,
      s"planted drift should blow past the 0.2 alarm, got psi ${dr.getDouble(2)}")
    val same = ((0 until 20).map(i => (true, vec(0, 0.01 * (i % 5)))) ++
                (0 until 20).map(i => (false, vec(0, 0.01 * (i % 5)))))
      .toDF("is_exp", "embedding")
    val sm = graft.ops.ScanOps.embeddingDriftOf(same).head()
    assert(sm.getDouble(2) == 0.0, s"identical halves psi ${sm.getDouble(2)}")
    assert(sm.getDouble(3) == 1.0, s"identical halves centroid cos ${sm.getDouble(3)}")
    // contract-key run on the corpus: sane ranges + the count partition
    val r = SparkEntry.queries("obs_drift_embedding")(spark, d).head()
    assert(r.getLong(0) + r.getLong(1) ===
      Tables.embeddings(spark, d).filter(col("embedding").isNotNull).count())
    assert(r.getDouble(2) >= 0.0)
    assert(math.abs(r.getDouble(3)) <= 1.0)
    assert(r.getDouble(4) > 0.0 && r.getDouble(5) > 0.0)
  }

  test("win_ignore_nulls: filled column equals a sequential forward fill") {
    val rows = SparkEntry.queries("win_ignore_nulls")(spark, d).collect()
    rows.groupBy(_.getLong(0)).foreach { case (uid, rs) =>
      val sorted = rs.sortBy(r => (r.getTimestamp(2).getTime, r.getLong(1)))
      var lastObs: Option[Double] = None
      sorted.foreach { r =>
        val v = if (r.isNullAt(3)) None else Some(r.getDouble(3))
        if (v.isDefined) lastObs = v
        val filled = if (r.isNullAt(4)) None else Some(r.getDouble(4))
        assert(filled === lastObs, s"user $uid: forward fill diverges")
      }
    }
  }
  test("agg_association_rules: support/confidence/lift recomputed from raw baskets") {
    val rows = SparkEntry.queries("agg_association_rules")(spark, d).collect()
    assert(rows.nonEmpty)
    val b = Tables.lineitem(spark, d).select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrders = b.map(_._1).distinct.length.toDouble
    val byItem = b.groupBy(_._2).map { case (p, xs) => p -> xs.map(_._1).toSet }
    rows.take(20).foreach { r =>
      val (pa, pb, np) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val inter = (byItem(pa) & byItem(pb)).size
      assert(inter === np, s"pair ($pa,$pb) support count")
      assert(math.abs(r.getDouble(4) - np / byItem(pa).size.toDouble) < 1e-4)
      assert(math.abs(r.getDouble(5) -
        np * nOrders / (byItem(pa).size.toDouble * byItem(pb).size)) < 1e-3)
    }
  }

  test("win_seasonal_decompose: decomposition identity and seasonal zero-mean") {
    val rows = SparkEntry.queries("win_seasonal_decompose")(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, t, se, res) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(math.abs(v - (t + se + res)) < 5e-4,
        s"identity violated: $v != $t + $se + $res")
    }
    // each type's seasonal components average ~0 over its emitted days —
    // only approximately (per-dow means reweighted by emitted-day counts),
    // so the bound is RELATIVE to the series level, not absolute
    rows.groupBy(_.getString(0)).foreach { case (et, rs) =>
      val meanSeasonal = rs.map(_.getDouble(4)).sum / rs.length
      val meanLevel = rs.map(_.getDouble(2)).sum / rs.length
      assert(math.abs(meanSeasonal) < 0.05 * meanLevel,
        s"$et seasonal mean $meanSeasonal vs level $meanLevel")
    }
  }

  test("agg_decile_lift: deciles partition all users; rates reconcile with base") {
    val rows = SparkEntry.queries("agg_decile_lift")(spark, d).collect()
    assert(rows.map(_.getInt(0)).sorted.toSeq === (1 to rows.length))
    val nUsers = rows.map(_.getLong(1)).sum
    val nResp = rows.map(_.getLong(2)).sum
    val base = nResp.toDouble / nUsers
    rows.foreach { r =>
      val rate = r.getDouble(3)
      val lift = r.getDouble(4)
      assert(math.abs(lift - rate / base) < 1e-3, s"decile ${r.getInt(0)} lift")
    }
  }

  test("decileLiftOf: two-pass rank matches a global-window rank; degenerate inputs behave") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // planted frame: 100 users, varied scores incl. exact ties, NULLs
    // (every 11th user, e.g. an upstream avg over an empty group) AND
    // NaNs (every 13th user, e.g. an upstream 0/0) — NULL scores must
    // rank LAST like the global desc window's nulls-last and never
    // vanish at the bucket join; NaN scores must rank FIRST like the
    // global desc window (NaN > any double), not fall to the bottom
    // bucket via floor(NaN)→0 (ADVICE r16)
    val df = spark.range(100).select(
      col("id").as("uid"),
      when(col("id") % 11 === 0, lit(null))
        .when(col("id") % 13 === 0, lit(Double.NaN))
        .otherwise((col("id") % 7).cast("double")).as("score"),
      (col("id") % 5 === 0).cast("long").as("resp"))
    val two = graft.ops.AggOps.decileLiftOf(df, "uid", "score", "resp")
      .orderBy("decile").collect()
    // reference: the r15 single-window formulation, recomputed inline
    val w = Window.orderBy(col("score").desc, col("uid").asc)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ref = df.withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("base", sum("resp").over(wAll))
      .withColumn("decile", expr("CAST(((r - 1) * 10) DIV n + 1 AS INT)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("resp").as("n_resp"),
           max(expr("CAST(base AS DOUBLE) / n")).as("base_rate"))
      .select(col("decile"), col("n_users"), col("n_resp"),
        round(col("n_resp") / col("n_users").cast("double"), 4).as("resp_rate"),
        when(col("base_rate") > 0,
          round((col("n_resp") / col("n_users").cast("double"))
                / col("base_rate"), 4)).as("lift"))
      .orderBy("decile").collect()
    assert(two.map(_.toSeq).toSeq === ref.map(_.toSeq).toSeq)
    // all-equal scores: every row lands in bucket 0, deciles still partition
    val flat = spark.range(40).select(col("id").as("uid"),
      lit(1.0).as("score"), lit(0L).as("resp"))
    val fr = graft.ops.AggOps.decileLiftOf(flat, "uid", "score", "resp")
      .orderBy("decile").collect()
    assert(fr.map(_.getLong(1)).sum === 40L)
    // zero responders: lift is NULL (never Infinity), rates are 0
    assert(fr.forall(_.isNullAt(4)))
    assert(fr.forall(_.getDouble(3) === 0.0))
    // empty input: no rows, no crash
    assert(graft.ops.AggOps.decileLiftOf(
      flat.filter(lit(false)), "uid", "score", "resp").count() === 0L)
  }

  test("llm_ann_index_stats: fractions sum to 1, every vector accounted, imbalance consistent") {
    val rows = SparkEntry.queries("llm_ann_index_stats")(spark, d).collect()
    assert(rows.nonEmpty && rows.length <= 10) // ≤ IvfCells cells
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 10))
    val total = rows.map(_.getLong(1)).sum
    // the posting holds every corpus vector exactly once
    val nVecs = Tables.embeddings(spark, d).count()
    assert(total === nVecs, s"posting covers $total of $nVecs vectors")
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-2)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) -
        r.getLong(1).toDouble * rows.length / total) < 1e-3)
    }
  }

  test("llm_ann_lsh_stats: every band accounts for the whole corpus, per-band fracs sum to 1") {
    val rows = SparkEntry.queries("llm_ann_lsh_stats")(spark, d).collect()
    val nVecs = Tables.embeddings(spark, d).count()
    val byBand = rows.groupBy(_.getInt(0))
    assert(byBand.keySet === (0 until 16).toSet, "16 band tables expected")
    byBand.foreach { case (b, rs) =>
      // each vector posts exactly once per band table
      assert(rs.map(_.getLong(2)).sum === nVecs, s"band $b occupancy")
      assert(rs.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 16), s"band $b bucket range (4 bits)")
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-2, s"band $b fracs")
      // imbalance = n_vecs * n_buckets / band_total
      rs.foreach { r =>
        assert(math.abs(r.getDouble(4) -
          r.getLong(2).toDouble * rs.length / nVecs) < 1e-3)
      }
    }
  }

  test("kAnonymityOf: planted QI frame gives exact counts") {
    import org.apache.spark.sql.functions._
    // groups: (a,x)=1 row, (a,y)=3, (b,x)=6 → min_k=1
    val df = spark.range(10).select(
      when(col("id") < 4, "a").otherwise("b").as("qa"),
      when(col("id") === 0, "x").when(col("id") < 4, "y").otherwise("x").as("qb"))
    val rows = graft.ops.ScanOps.kAnonymityOf(df, Seq("qa", "qb"), Seq(2, 4, 7))
      .orderBy("k").collect()
    // k=2: only the singleton below; k=4: singleton + the 3-group;
    // k=7: all three groups (1+3+6 rows)
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
                          r.getDouble(4))).toSeq ===
      Seq((2, 1L, 1L, 1L, 0.1), (4, 1L, 2L, 4L, 0.4), (7, 1L, 3L, 10L, 1.0)))
  }

  test("lDiversityOf: planted frame — a large homogeneous group is flagged, a small diverse one is not") {
    import org.apache.spark.sql.functions._
    // group (a): 6 rows, ALL sensitive value 0 (k-anonymous, 1-diverse);
    // group (b): 2 rows, sensitive values 1 and 2 (small but 2-diverse)
    val df = spark.range(8).select(
      when(col("id") < 6, "a").otherwise("b").as("qa"),
      when(col("id") < 6, 0L).otherwise(col("id") - 5).as("sv"))
    val rows = graft.ops.ScanOps.lDiversityOf(df, Seq("qa"), "sv", Seq(2, 3))
      .orderBy("l").collect()
    // l=2: only group a (1 distinct) below → 1 group, 6 rows, 0.75;
    // l=3: both groups below (1 and 2 distinct) → 2 groups, 8 rows, 1.0
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
                          r.getDouble(4))).toSeq ===
      Seq((2, 1L, 1L, 6L, 0.75), (3, 1L, 2L, 8L, 1.0)))
  }

  test("mannKendallOf: planted rising and flat series give exact S/var18") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // "up": daily counts 1,2,3,4,5 (strictly rising) -> S = C(5,2) = 10,
    // no ties -> var18 = 5*4*15 = 300, z = 9/sqrt(300/18) = 2.2045;
    // "fl": count 2 every day -> S = 0, one 5-way tie -> var18 = 0, z 0.
    val rows =
      (1 to 5).flatMap(i => Seq.fill(i)(("up", s"2024-01-0$i"))) ++
      (1 to 5).flatMap(i => Seq.fill(2)(("fl", s"2024-01-0$i")))
    val df = rows.toDF("g", "dstr")
      .select(col("g"), col("dstr").cast("timestamp").as("ts"))
    val out = graft.ops.AggOps.mannKendallOf(df, "g", "ts")
      .orderBy("g").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                         r.getLong(3), r.getDouble(4), r.getString(5)))
      .toSeq ===
      Seq(("fl", 5L, 0L, 0L, 0.0, "none"),
          ("up", 5L, 10L, 300L, 2.2045, "increasing")))
  }

  test("hhiOf: planted mixes give the hand-computed concentration") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // A: cats x*3 + y*1 -> hhi = (9+1)/16 = 0.625, top 0.75, eff 1.6;
    // B: one cat -> hhi = top = eff = 1.0
    val df = Seq(("A", "x"), ("A", "x"), ("A", "x"), ("A", "y"),
                 ("B", "z"), ("B", "z")).toDF("k", "c")
    val out = graft.ops.AggOps.hhiOf(df, "k", "c").orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                         r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toSeq ===
      Seq(("A", 4L, 2L, 0.625, 0.75, 1.6), ("B", 2L, 1L, 1.0, 1.0, 1.0)))
  }

  test("theilSenOf: planted linear and flat series recover exact slope/intercept") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // "ln": daily counts 2,4,6,8 on consecutive days -> every pairwise
    // slope is exactly 2; intercept = c - 2*epochday = 2(i+1) -
    // 2*(19723+i) = -39444 for all i (2024-01-01 = epoch day 19723).
    // "fl": count 3 every day -> slope 0, intercept 3.
    val rows =
      (0 to 3).flatMap(i => Seq.fill(2 * (i + 1))(("ln", s"2024-01-0${i + 1}"))) ++
      (0 to 3).flatMap(i => Seq.fill(3)(("fl", s"2024-01-0${i + 1}")))
    val df = rows.toDF("g", "dstr")
      .select(col("g"), col("dstr").cast("timestamp").as("ts"))
    val out = graft.ops.AggOps.theilSenOf(df, "g", "ts")
      .orderBy("g").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                         r.getDouble(3), r.getDouble(4))).toSeq ===
      Seq(("fl", 4L, 6L, 0.0, 3.0), ("ln", 4L, 6L, 2.0, -39444.0)))
  }

  test("jsDivergenceOf: identical slices give 0, disjoint vocabularies give 1 bit") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // identical: same text both tags -> every cell has p = q -> JS = 0
    val same = Seq(("a", "x y z"), ("b", "x y z")).toDF("tag", "text")
    val js0 = graft.ops.TextOps.jsDivergenceOf(same, "text", "tag", "a", "b")
      .collect().head
    assert((js0.getLong(0), js0.getLong(1), js0.getDouble(3)) === (3L, 3L, 0.0))
    // disjoint: no shared term -> JS = 1 bit exactly
    val disj = Seq(("a", "x x y"), ("b", "u v w")).toDF("tag", "text")
    val js1 = graft.ops.TextOps.jsDivergenceOf(disj, "text", "tag", "a", "b")
      .collect().head
    assert(js1.getDouble(3) === 1.0)
  }

  test("kendallTauOf: planted concordant and tied series give exact tau-b") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // "up": daily (count, reach) = (1,1),(2,2),(3,3) -> perfectly
    // concordant, no ties: cd = 3, n0 = 3, tau = 1.
    // "ti": (2,1),(2,1),(3,1) -> reach all tied -> cd = 0, n1 = 1
    // (x-pair tie), n2 = 3 (all y pairs) -> denominator 0 -> tau 0.
    val rows =
      (1 to 3).flatMap(i => (1 to i).map(u => ("up", s"2024-01-0$i", u.toLong))) ++
      Seq(("ti", "2024-01-01", 9L), ("ti", "2024-01-01", 9L),
          ("ti", "2024-01-02", 9L), ("ti", "2024-01-02", 9L),
          ("ti", "2024-01-03", 9L), ("ti", "2024-01-03", 9L),
          ("ti", "2024-01-03", 9L))
    val df = rows.toDF("g", "dstr", "u")
      .select(col("g"), col("dstr").cast("timestamp").as("ts"), col("u"))
    val out = graft.ops.AggOps.kendallTauOf(df, "g", "ts", "u")
      .orderBy("g").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                         r.getLong(3), r.getLong(4), r.getLong(5),
                         r.getDouble(6))).toSeq ===
      Seq(("ti", 3L, 0L, 3L, 1L, 3L, 0.0),
          ("up", 3L, 3L, 3L, 0L, 0L, 1.0)))
  }

  test("dedupClusterStatsOf: planted labels give the exact histogram") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // clusters: {1,2,3} (size 3), {4,5} (size 2), {6} and {7}
    // (singletons) -> sizes 1x2, 2x1, 3x1 over 7 docs
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
                     (6L, 6L), (7L, 7L)).toDF("doc_id", "cluster_id")
    val out = graft.ops.LlmOps.dedupClusterStatsOf(labels)
      .orderBy("cluster_size").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                         r.getLong(3), r.getDouble(4))).toSeq ===
      Seq((1L, 2L, 2L, 0L, 0.2857), (2L, 1L, 2L, 1L, 0.2857),
          (3L, 1L, 3L, 2L, 0.4286)))
  }

  test("cramersVOf: perfect association gives V=1, independence gives V=0") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // perfect 2x2 association: only the diagonal cells EXIST, and the
    // core (like agg_chi_square, by inherited convention) sums observed
    // cells only — chi2 = 2*(5-2.5)^2/2.5 = 5 -> V = sqrt(5/10) =
    // 0.7071, still "strong"
    val perf = (Seq.fill(5)(("a", "x")) ++ Seq.fill(5)(("b", "y")))
      .toDF("u", "v")
    val rp = graft.ops.AggOps.cramersVOf(perf, "u", "v").collect().head
    assert((rp.getLong(0), rp.getInt(2), rp.getDouble(4),
            rp.getString(5)) === ((10L, 1, 0.7071, "strong")))
    // independent 2x2 (uniform cells): chi2 = 0 -> V = 0, negligible
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .flatMap(Seq.fill(2)(_)).toDF("u", "v")
    val ri = graft.ops.AggOps.cramersVOf(ind, "u", "v").collect().head
    assert((ri.getDouble(4), ri.getString(5)) === ((0.0, "negligible")))
  }

  test("runsTestOf: planted alternating and monotone series give exact runs") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // "alt": daily counts 1,2,1,2,1 -> signs +,-,+,- -> R = 4, n1 = n2
    // = 2: mu = 3, sigma2 = 8*(8-4)/(16*3) = 2/3, z = 1/sqrt(2/3).
    // "mono": 1,2,3,4 -> +,+,+ -> R = 1, n2 = 0 -> degenerate z = 0.
    val alt = Seq(1, 2, 1, 2, 1); val mono = Seq(1, 2, 3, 4)
    val rows =
      alt.zipWithIndex.flatMap { case (c, i) =>
        Seq.fill(c)(("alt", f"2024-01-${i + 1}%02d")) } ++
      mono.zipWithIndex.flatMap { case (c, i) =>
        Seq.fill(c)(("mono", f"2024-01-${i + 1}%02d")) }
    val df = rows.toDF("g", "dstr")
      .select(col("g"), col("dstr").cast("timestamp").as("ts"))
    val out = graft.ops.WinOps.runsTestOf(df, "g", "ts")
      .orderBy("g").collect()
    val zExp = BigDecimal(1.0 / math.sqrt(2.0 / 3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                         r.getLong(3), r.getDouble(4), r.getBoolean(5)))
      .toSeq ===
      Seq(("alt", 2L, 2L, 4L, zExp, true),
          ("mono", 3L, 0L, 1L, 0.0, true)))
  }

  test("bleu2Of: planted pairs — identity 1.0, clipped repeats 0, brevity penalty exact") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    val cand = Seq((1L, "a b c"), (2L, "a a a"), (3L, "a b"))
      .toDF("pair_id", "cand_text")
    val ref = Seq((1L, "a b c"), (2L, "a b"), (3L, "a b c"))
      .toDF("pair_id", "ref_text")
    val out = graft.ops.TextOps.bleu2Of(cand, ref)
      .orderBy("pair_id").select("pair_id", "bleu2").collect()
    // pair 1: identical -> 1.0; pair 2: "a a a" vs "a b" -> the clipped
    // bigram count is 0 ("a a" not in ref) -> 0.0; pair 3: "a b" vs
    // "a b c" -> p1 = p2 = 1, BP = exp(1 - 3/2)
    val bp = BigDecimal(math.exp(1.0 - 3.0 / 2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.0), (2L, 0.0), (3L, bp)))
  }

  test("katzOf: planted path graph gives the hand-unrolled series") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // path a-b-c (symmetric edges), alpha = 0.5, 2 iterations:
    // x1 = (1.5, 2, 1.5); x2(a) = 1 + .5*x1(b) = 2,
    // x2(b) = 1 + .5*(1.5+1.5) = 2.5, x2(c) = 2.
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val out = graft.ops.GraphOps.katzOf(edges, alpha = 0.5, iters = 2)
      .orderBy("node").collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("a", 2.0), ("b", 2.5), ("c", 2.0)))
  }

  test("spearmanOf: planted monotone and constant series give exact rho") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // "up": daily (count, reach) = (1,1),(2,2),(3,3) -> rho 1;
    // "dn": (3,3),(4,2),(5,1) -> volume up, reach down -> rho -1;
    // "ti": reach constant -> zero variance -> rho 0.
    val rows =
      (1 to 3).flatMap(i => (1 to i).map(u => ("up", s"2024-01-0$i", u.toLong))) ++
      (1 to 3).flatMap(i => (1 to (i + 2)).map(r =>
        ("dn", s"2024-01-0$i", math.min(r, 4 - i).toLong))) ++
      Seq(("ti", "2024-01-01", 1L), ("ti", "2024-01-01", 1L),
          ("ti", "2024-01-02", 1L), ("ti", "2024-01-02", 1L),
          ("ti", "2024-01-02", 1L))
    val df = rows.toDF("g", "dstr", "u")
      .select(col("g"), col("dstr").cast("timestamp").as("ts"), col("u"))
    val out = graft.ops.AggOps.spearmanOf(df, "g", "ts", "u")
      .orderBy("g").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq ===
      Seq(("dn", 3L, -1.0), ("ti", 2L, 0.0), ("up", 3L, 1.0)))
  }

  test("profileOf: planted frame with nulls gives exact per-column stats") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // k: 1,1,2,null -> 4 rows, 1 null, 2 distinct, min 1 max 2;
    // s: "x","y","y","y" -> 0 null, 2 distinct, non-numeric -> null min/max
    val df = Seq((Some(1L), "x"), (Some(1L), "y"), (Some(2L), "y"),
                 (None: Option[Long], "y")).toDF("k", "s")
    val out = graft.ops.ScanOps
      .profileOf(df, Seq("k", "s"), numericCols = Set("k"))
      .orderBy("col_name").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
                         r.getDouble(3), r.getLong(4))).toSeq ===
      Seq(("k", 4L, 1L, 0.25, 2L), ("s", 4L, 0L, 0.0, 2L)))
    assert((out(0).getDouble(5), out(0).getDouble(6)) === ((1.0, 2.0)))
    assert(out(1).isNullAt(5) && out(1).isNullAt(6))
  }

  test("mannWhitneyOf: planted separated and tied cohorts give exact U") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // complete separation: a = {1,2,3}, b = {4,5,6} -> R_a = 6, U_a = 0,
    // no ties -> sigma2 = (9/12)*7 = 5.25, z = -9/(2*sqrt(5.25))
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
                 ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("tag", "v")
    val r = graft.ops.AggOps.mannWhitneyOf(df, "v", "tag", "a", "b")
      .collect().head
    val zExp = BigDecimal(-9.0 / (2.0 * math.sqrt(5.25)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) === ((3L, 3L, 0.0)))
    assert(r.getDouble(3) === zExp)
    assert(r.getBoolean(4) === (math.abs(zExp) > 1.96))
    // tied block: a = {1,1}, b = {1,2} -> 2R_a = 8 (both a's at avg rank
    // 2), U_a = 1, tsum = 24 -> sigma2 = (4/12)*(5-2), z = -1/sqrt(sigma2)
    val dt = Seq(("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 2.0))
      .toDF("tag", "v")
    val rt = graft.ops.AggOps.mannWhitneyOf(dt, "v", "tag", "a", "b")
      .collect().head
    assert((rt.getLong(0), rt.getLong(1), rt.getDouble(2)) === ((2L, 2L, 1.0)))
    val s2 = (4.0 / 12.0) * (5.0 - 24.0 / 12.0)
    val ztExp = BigDecimal(-2.0 / (2.0 * math.sqrt(s2)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rt.getDouble(3) === ztExp)
  }

  test("langidEvalOf: planted corpus gives the hand-computed scorecard") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // doc1 (aa, "aaaa") -> only trigram aaa, in profile(aa) only -> aa.
    // doc2 (aa, "bbbb") -> bbb is in BOTH profiles (aa trained on doc2
    // too) -> tie breaks lang asc -> aa ("correct" by luck).
    // doc3 (bb, "bbbb") -> same tie -> aa -> WRONG.
    // conf: (aa,aa,2), (bb,aa,1); N=3, correct=2, acc=0.6667;
    // pe_num = 2*3 + 1*0 = 6 -> kappa = (6-6)/(9-6) = 0;
    // F1(aa) = 2*2/(2+3) = 0.8, F1(bb) = 0 -> macro 0.4.
    val docs = Seq((1L, "aa", "aaaa"), (2L, "aa", "bbbb"),
                   (3L, "bb", "bbbb")).toDF("doc_id", "lang", "text")
    val r = graft.ops.TextOps.langidEvalOf(docs).collect().head
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5)) ===
      ((3L, 2L, 2, 0.6667, 0.0, 0.4)))
  }

  test("tClosenessOf: planted frame gives the hand-computed EMD verdicts") {
    import org.apache.spark.sql.functions._
    // m=3 bands; group a: 4 rows all band 0; group b: 2 rows band 1 +
    // 2 rows band 2. Global G = (4,2,2), N=8, cumulative G = (4,6).
    // a: C=(4,4) -> num = |8*4-4*4| + |8*4-4*6| = 16+8 = 24
    // b: C=(0,2) -> num = |0-4*4|   + |8*2-4*6| = 16+8 = 24
    // EMD = 24 / ((3-1)*4*8) = 0.375 for both groups.
    val df = spark.range(8).select(
      when(col("id") < 4, "a").otherwise("b").as("qa"),
      when(col("id") < 4, 0L).when(col("id") < 6, 1L).otherwise(2L)
        .as("band"))
    val rows = graft.ops.ScanOps
      .tClosenessOf(df, Seq("qa"), "band", nBands = 3, t100s = Seq(30, 40))
      .orderBy("t").collect()
    // t=0.30: both groups above (0.375 > 0.30); t=0.40: none.
    assert(rows.map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2),
                          r.getLong(3), r.getDouble(4))).toSeq ===
      Seq((0.3, 0.375, 2L, 8L, 1.0), (0.4, 0.375, 0L, 0L, 0.0)))
  }

  test("unigram tokenizer: planted corpus trains and segments to the hand-run EM values") {
    val sp = spark
    import sp.implicits._
    // corpus = "ab" x3: seed vocab {a:3, b:3, ab:3}, total 9, every seed
    // score ln(1/3); Viterbi picks "ab" over a+b (one term beats two),
    // usage {ab:3}, M-step: ab = ln(3.5/4.5), a = b = ln(0.5/4.5)
    val docs = Seq(("d1", "ab ab ab")).toDF("doc_id", "text")
    val words = graft.ops.TextOps.ugWords(docs)
    val model = graft.ops.TextOps.unigramTrain(words)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(model === Map(
      "ab" -> r6(math.log(3.5 / 4.5)),
      "a" -> r6(math.log(0.5 / 4.5)),
      "b" -> r6(math.log(0.5 / 4.5))))
    val seg = graft.ops.TextOps.ugSegment(words, model).collect()
    assert(seg.length == 1 && seg(0).getSeq[String](1) == Seq("ab"))
    // properties on the real corpus: every word round-trips
    // (concat(pieces) = word) and training is deterministic
    val corpus = Tables.documents(spark, d).limit(200)
    val m1 = graft.api.Text.trainUnigram(corpus)
    val m2 = graft.api.Text.trainUnigram(corpus)
    assert(m1 === m2)
    val segs = graft.api.Text.unigramSegment(corpus, m1)
    import org.apache.spark.sql.functions.{col, concat_ws}
    assert(segs.filter(concat_ws("", col("ps")) =!= col("word")).count() == 0L)
    assert(segs.count() > 0L)
  }

  test("betweennessOf: planted path and diamond graphs give the hand-run Brandes values") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // path a-b-c-d-e, sources {a, e}: δ_a = (b:3, c:2, d:1, e:0),
    // δ_e = (d:3, c:2, b:1, a:0) ⇒ bc = (a:0, b:4, c:4, d:4, e:0)
    val und = Seq(("a","b"),("b","c"),("c","d"),("d","e")).toDF("src","dst")
    val path = und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
    val got = graft.ops.GraphOps
      .betweennessOf(path, Seq("a","e").toDF("seed"), maxHops = 4)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === Seq(("a", 0.0), ("b", 4.0), ("c", 4.0), ("d", 4.0), ("e", 0.0)))
    // diamond a-{b,c}-d, source {a}: σ(d) = 2 so b and c each carry
    // half of d's dependency — δ(b) = δ(c) = 1·(1+0)/2 = 0.5
    val dund = Seq(("a","b"),("a","c"),("b","d"),("c","d")).toDF("src","dst")
    val diamond = dund.unionByName(dund.select(col("dst").as("src"), col("src").as("dst")))
    val got2 = graft.ops.GraphOps
      .betweennessOf(diamond, Seq("a").toDF("seed"), maxHops = 2)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got2 === Seq(("b", 0.5), ("c", 0.5), ("d", 0.0)))
  }

  test("harmonicOf: planted path graph gives exact 1/d sums") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // undirected path a-b-c-d-e (both directions emitted), seeds {a, e}
    val und = Seq(("a","b"),("b","c"),("c","d"),("d","e")).toDF("src","dst")
    val edges = und.unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq("a","e").toDF("seed")
    val got = graft.ops.GraphOps.harmonicOf(edges, seeds, rounds = 4)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // distances: a→(b1,c2,d3,e4), e→(d1,c2,b3,a4); harmonic per node =
    // 1/d(a,·)+1/d(e,·), seed self-rows (d=0) excluded
    assert(got === Seq(
      ("a", 1L, 0.25),              // from e at d=4
      ("b", 2L, 1.0 + 1.0/3),       // a:1, e:3
      ("c", 2L, 1.0),               // 1/2 + 1/2
      ("d", 2L, 1.0/3 + 1.0),       // a:3, e:1
      ("e", 1L, 0.25))              // from a at d=4
      .map { case (n, c, h) => (n, c, math.rint(h * 10000) / 10000) })
  }

  test("obs_k_anonymity: thresholds monotone, min_k consistent, fractions exact") {
    val rows = SparkEntry.queries("obs_k_anonymity")(spark, d).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(2, 5, 10, 20))
    val minK = rows.head.getLong(1)
    assert(rows.forall(_.getLong(1) === minK), "min_k constant across threshold rows")
    val nRows = Tables.customer(spark, d).count()
    // groups/rows below k are monotone non-decreasing in k
    val gs = rows.map(_.getLong(2)); val rs = rows.map(_.getLong(3))
    assert(gs.zip(gs.tail).forall { case (a, b) => a <= b })
    assert(rs.zip(rs.tail).forall { case (a, b) => a <= b })
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4) -
        math.rint(10000.0 * r.getLong(3) / nRows) / 10000.0) < 1e-9,
        s"frac = round(rows_below/n_rows, 4): $r")
      // a threshold at or below the actual min group size catches nothing
      if (r.getInt(0) <= minK) assert(r.getLong(2) === 0L, s"k <= min_k must flag 0 groups: $r")
      else assert(r.getLong(2) > 0L || minK >= r.getInt(0), s"k > min_k must flag >= 1 group: $r")
    }
  }

  test("llm_dedup_index_stats: every band accounts for all day-1 docs, per-band fracs sum to 1") {
    val rows = SparkEntry.queries("llm_dedup_index_stats")(spark, d).collect()
    // day-1 = doc_id % 4 != 0 with >=1 shingle — recompute the expected
    // per-band occupancy from the same slice definition
    val nDay1 = graft.ops.LlmOps.shingled(spark, d)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(4)) =!= 0).count()
    val byBand = rows.groupBy(_.getInt(0))
    assert(byBand.keySet === (0 until 16).toSet, "16 minhash bands expected")
    byBand.foreach { case (b, rs) =>
      assert(rs.map(_.getLong(2)).sum === nDay1, s"band $b posting occupancy")
      // each frac is rounded to 4dp, so the sum drifts up to 5e-5/bucket
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-2 + 5e-5 * rs.length,
        s"band $b fracs")
      rs.foreach { r =>
        assert(math.abs(r.getDouble(4) -
          r.getLong(2).toDouble * rs.length / nDay1) < 1e-3)
      }
    }
  }

  test("llm_mrr_eval: one row per query, rr = 1/first_rank, misses are rr=0") {
    val rows = SparkEntry.queries("llm_mrr_eval")(spark, d).collect()
    val nQueries = Tables.embeddings(spark, d)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 100).count()
    assert(rows.length.toLong === nQueries, "every query scored exactly once")
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.getDouble(2) === 0.0, s"miss must be rr=0: $r")
      else {
        val fr = r.getInt(1)
        assert(fr >= 1 && fr <= 5, s"first_rank in 1..5: $r")
        assert(math.abs(r.getDouble(2) -
          math.rint(10000.0 / fr) / 10000.0) < 1e-9, s"rr = round(1/first_rank, 4): $r")
      }
    }
    // the LSH index has measured recall >0.9 here — MRR must reflect that
    // (most queries hit at rank 1); guard the metric against a silent
    // truth/approx side swap, which would crater it
    val mrr = rows.map(_.getDouble(2)).sum / rows.length
    assert(mrr > 0.5, s"implausible MRR $mrr for an index with recall ~0.9")
  }

  test("graph_harmonic: bounds hold and the first seed's BFS distances lower-bound it") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("graph_harmonic")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { case (n, h) =>
      assert(h <= n + 1e-9, "each reaching seed contributes at most 1")
      assert(h >= n / 4.0 - 1e-9, "each reaching seed contributes at least 1/HarmonicRounds")
    }
    // graph_bfs walks from min(src) — the lexicographically-first harmonic
    // seed; any node it reaches within 4 hops must carry >= 1/dist
    val bfs = SparkEntry.queries("graph_bfs")(spark, d).collect()
    bfs.filter(r => r.getInt(1) >= 1 && r.getInt(1) <= 4).foreach { r =>
      val (node, dist) = (r.getString(0), r.getInt(1))
      assert(rows.contains(node), s"$node reached by seed BFS but absent from harmonic")
      assert(rows(node)._2 >= 1.0 / dist - 1e-4,
        s"$node harmonic ${rows(node)._2} < 1/$dist from the first seed alone")
    }
  }

  test("llm_ann_pq_stats: every subspace accounts for the whole corpus, util = used/k") {
    val rows = SparkEntry.queries("llm_ann_pq_stats")(spark, d).collect()
    val nVecs = Tables.embeddings(spark, d).count()
    val bySub = rows.groupBy(_.getInt(0))
    assert(bySub.keySet === (0 until 8).toSet, "8 PQ subspaces expected")
    bySub.foreach { case (m, rs) =>
      // each vector carries exactly one code per subspace
      assert(rs.map(_.getLong(2)).sum === nVecs, s"sub $m code coverage")
      assert(rs.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 16), s"sub $m code range (k=16)")
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-2, s"sub $m fracs")
      // util is constant within the subspace and equals used-codes/16
      assert(rs.forall(r => math.abs(r.getDouble(5) - rs.length / 16.0) < 1e-9),
        s"sub $m util")
    }
  }

  test("agg_bitmap_functions: bitmap distincts equal plain countDistinct") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("agg_bitmap_functions")(spark, d).collect()
    val direct = Tables.events(spark, d).groupBy("event_type")
      .agg(countDistinct("user_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables.events(spark, d)
      .agg(countDistinct("user_id")).head().getLong(0)
    rows.foreach { r =>
      assert(r.getLong(1) === direct(r.getString(0)))
      assert(r.getLong(2) === total)
    }
  }

  test("llm_corpus_stats: card numbers reconcile with direct aggregates") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("llm_corpus_stats")(spark, d).head()
    val n = Tables.documents(spark, d).count()
    assert(r.getLong(0) === n)
    assert(r.getLong(4) <= n, "more distinct texts than docs")
    assert(r.getDouble(7) >= 0.0 && r.getDouble(7) < 1.0)
  }
}
