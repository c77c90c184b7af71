package graft.api

import graft.GraftExtensions
import graft.ops.{LlmOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public facade of the engine — the API a user programs against, as opposed
  * to the keyed contract map in [[graft.SparkEntry]] (which exists for the
  * correctness/bench harness). Everything here is a thin, typed adapter over
  * the SAME plan builders the contract keys run — ApiSpec proves facade
  * output ≡ contract-key output on the shared corpus — so the scale
  * properties documented on the ops modules (bounded shuffles, broadcast
  * directions, codegen'd cosine) hold identically.
  *
  * Conventions: document frames are addressed by an id column and a text
  * column (defaults "doc_id"/"text"); vector frames by ("vec_id",
  * "embedding": array<float|double>). Call [[Graft.register]] once per
  * session (or set `spark.sql.extensions=graft.GraftExtensions`) before
  * using cosine-based entry points.
  */
object Graft {
  /** The imperative twin of `spark.sql.extensions=graft.GraftExtensions`:
    * registers what `GraftExtensions` declares and this session lacks.
    * Rules go to `experimental.extraOptimizations` (the batch after the
    * main optimizer, when predicates sit in join conditions, the shape the
    * matchers target); strategies to `experimental.extraStrategies`. A
    * session built with the extension gets nothing a second time. The
    * checkpoint file manager is set only where neither the session nor
    * the Hadoop conf names one: a manager the user chose wins. */
  def register(spark: SparkSession): Unit = {
    val (ckptKey, ckptManager) = GraftExtensions.checkpointFileManager
    if (spark.conf.getOption(ckptKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ckptKey) == null)
      spark.conf.set(ckptKey, ckptManager)
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    val injected = spark.sessionState.planner.extraPlanningStrategies
    if (!GraftExtensions.strategies.forall(injected.contains)) {
      val x = spark.experimental
      x.extraOptimizations ++= GraftExtensions.rules.filterNot(x.extraOptimizations.contains)
      x.extraStrategies ++= GraftExtensions.strategies.filterNot(x.extraStrategies.contains)
    }
  }

  /** Cosine similarity of two array<float>/array<double> columns via the
    * native codegen'd Expression — never a UDF. Requires [[register]]. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** Unpersist every intermediate frame the engine has `.cache()`d (the
    * dedup/signature pipelines cache per-invocation intermediates that are
    * never reused across calls). Call between batches in a long-lived
    * session; scoped to the engine's own frames — a user's caches are
    * untouched (unlike `spark.catalog.clearCache()`). Returns the number
    * of frames released. */
  def clearCaches(): Int = graft.GraftCaches.clear()

  /** Native as-of join (inclusive): each left row pairs with the right
    * row sharing the by-keys that has the greatest `rightTsCol <=
    * leftTsCol` (backward, the default) or the smallest `rightTsCol >=
    * leftTsCol` (`forward = true` — the event-to-next-outcome join);
    * unmatched left rows drop (inner, the default) or keep null right
    * columns (`outer = true`). Plans as the
    * custom [[graft.plans.AsOfJoinExec]] operator — one hash shuffle per
    * side on the by-keys plus a streaming O(1)-state merge, instead of the
    * union-tag + window composition (`join_asof`) that buffers whole key
    * groups in the window frame. The right side is re-aliased internally
    * (fresh exprIds), so self-as-of joins on one source frame are safe;
    * output = left columns ++ right columns in order, right names as given
    * — rename overlapping right columns first if you need to reference
    * them downstream. Null by-keys match each other (sort-order equality,
    * like groupBy); filter them beforehand for SQL-join semantics. Null
    * TIMESTAMPS keep SQL semantics: a null right ts is never a candidate
    * and a null left ts matches nothing. By-key and ts types must match
    * pairwise between the sides (cast explicitly; the operator refuses
    * rather than silently comparing mismatched widths). */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftOn: Seq[String], rightOn: Seq[String],
               leftTsCol: String, rightTsCol: String,
               outer: Boolean = false, forward: Boolean = false): DataFrame =
    graft.plans.AsOfJoin.frame(left, right, leftOn, rightOn,
      leftTsCol, rightTsCol, outer, forward)
}

/** Deduplication family. All pair outputs are (doc_a < doc_b) with the
  * confirming exact score; feed them to [[Dedup.clusters]] for a complete
  * per-corpus keep/drop decision.
  *
  * Caching note: each pair call `.cache()`s the one per-call frame its
  * plan reads three times (signature build or banding, and both confirm
  * sides): the shingle sets for minhash and containment, the signatures
  * for simhash, the new batch's shingles and bands for incremental
  * pairs. The signatures themselves are one native kernel pass per row
  * (`graft_minhash`, `graft_simhash`), registered by the call. Spark evicts
  * under memory pressure, but a long-lived session issuing MANY dedup
  * calls should call [[Graft.clearCaches]] between batches — the cached
  * plans are per-call, are not reused across invocations, and are all
  * tracked by the engine's cache registry (ApiSpec pins no-net-growth). */
object Dedup {
  private def std(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"), col(text).as("text"))

  /** Exact duplicates: normalize (lower, squash whitespace) → md5 → one
    * hash-agg. Returns (h, keep_id, n_copies); keeper = min id. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    LlmOps.exactDedupOf(std(docs, idCol, textCol))

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard confirm ≥ tau.
    * Banded candidates (16×4, k=64 seeded permutations), one signature row
    * per doc crosses the shuffle. Returns (doc_a, doc_b, jac). */
  def minhashPairs(docs: DataFrame, tau: Double = 0.6,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    LlmOps.neardupPairsOf(LlmOps.shingledOf(std(docs, idCol, textCol)), tau)

  /** SimHash near-duplicate pairs: 60-bit token-vote signature, 5×12-bit
    * bands, exact Hamming ≤ 4 confirm — recall 1.0 by pigeonhole. Uses the
    * production xxhash64 token hash. Returns (doc_a, doc_b, hamming). */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    LlmOps.simhashPairsOf(LlmOps.simhashSigsOf(
      LlmOps.tokenHashesOf(std(docs, idCol, textCol), "xxhash64")))

  /** Asymmetric containment pairs (|A∩B|/min ≥ tau) via an exact
    * inverted-index join; `dfCap` drops hot posting lists from candidate
    * generation only (see the ops module for the recall argument). */
  def containmentPairs(docs: DataFrame, tau: Double = 0.8,
                       dfCap: Option[Long] = None,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    LlmOps.containmentPairs(
      graft.GraftCaches.track(
        LlmOps.shingledOf(std(docs, idCol, textCol)).cache()), tau, dfCap)

  /** Build (or rebuild) a MinHash signature store at `path`: `bands/`
    * holds (doc_id, band, bh) posting rows, `sh/` the shingle sets — the
    * persisted index [[incrementalPairs]] probes, so stored text is never
    * re-shingled on later days. Seeds are fixed, so signatures stay
    * comparable across runs — the property an incremental store depends
    * on. */
  def buildSignatureStore(docs: DataFrame, path: String,
                          idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val sh = LlmOps.shingledOf(std(docs, idCol, textCol)).cache()
    LlmOps.bandedSigs(sh).write.mode("overwrite").parquet(s"$path/bands")
    sh.write.mode("overwrite").parquet(s"$path/sh")
    sh.unpersist()
    ()
  }

  /** Dedup a NEW batch against a signature store built by
    * [[buildSignatureStore]] (plus within itself), with exact-Jaccard
    * confirm ≥ tau: (doc_a, doc_b, jac). The new batch is the broadcast
    * side; the store only streams — the correct asymmetry when the store
    * is the whole-history side. */
  def incrementalPairs(spark: SparkSession, newDocs: DataFrame, path: String,
                       tau: Double = 0.6, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    LlmOps.incrementalPairsOf(
      spark.read.parquet(s"$path/bands"), spark.read.parquet(s"$path/sh"),
      LlmOps.shingledOf(std(newDocs, idCol, textCol)), tau)

  /** One-call end-to-end near-dup removal: MinHash pairs → connected
    * components → return only the KEPT rows of the input (cluster keeper =
    * min id; singletons keep themselves). Equivalent to
    * `clusters(docs, minhashPairs(docs, tau))` filtered to `keep` and
    * joined back — use the pieces directly when you need the audit trail. */
  def dedupe(docs: DataFrame, tau: Double = 0.6,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val verdict = clusters(docs, minhashPairs(docs, tau, idCol, textCol), idCol)
    docs.join(
      verdict.filter(col("keep")).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Span-level exact dedup (Lee et al. 2022 flavor): per-doc counts of
    * `span`-word windows that recur in ANOTHER doc, with a drop verdict at
    * dup_ratio > 0.5 — catches repeated paragraphs/boilerplate that
    * doc-level dedup cannot see. Returns (doc_id, n_spans,
    * n_repeated_spans, dup_ratio, drop_doc). No doc-pair enumeration:
    * shuffle is bounded by the corpus span count. */
  def substringVerdicts(docs: DataFrame, span: Int = 10,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    LlmOps.substringDedupOf(std(docs, idCol, textCol), span)

  /** The remediation for [[substringVerdicts]]: rebuild each doc with
    * every word position covered by a cross-doc-repeated span REMOVED —
    * (doc_id, n_words, n_kept, n_dropped, cleaned). Lee et al. 2022's
    * "remove the duplicated substring" as a distributed transform. */
  def substringDrop(docs: DataFrame, span: Int = 10,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    LlmOps.substringDropOf(std(docs, idCol, textCol), span)

  /** Multi-length [[substringVerdicts]]: per-length span/repeat counts +
    * a combined worst-ratio verdict — a 5-window alongside the 10 closes
    * the 5–9-word boilerplate blind spot a single fixed window provably
    * has. Additive cost per length; no pair enumeration at any length. */
  def substringVerdictsMulti(docs: DataFrame, spanLens: Seq[Int] = Seq(5, 10),
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame =
    LlmOps.substringDedupMultiOf(std(docs, idCol, textCol), spanLens)

  /** Multi-length [[substringDrop]]: rebuild with every position covered
    * by a cross-doc repeat at ANY of `spanLens` removed — the remediation
    * twin of [[substringVerdictsMulti]]. One anti-join + one rebuild pass
    * however many lengths run. */
  def substringDropMulti(docs: DataFrame, spanLens: Seq[Int] = Seq(5, 10),
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    LlmOps.substringDropMultiOf(std(docs, idCol, textCol), spanLens)

  /** Resolve duplicate pairs to connected components and a keep/drop
    * verdict: (doc_id, cluster_id, keep). Docs absent from `pairs` are
    * singleton keepers. Min-label propagation + pointer jumping — O(log n)
    * join rounds, no driver-side union-find. */
  def clusters(docs: DataFrame, pairs: DataFrame,
               idCol: String = "doc_id"): DataFrame = {
    val ids = docs.select(col(idCol).as("doc_id"))
    val labels = LlmOps.resolveClusters(pairs.select("doc_a", "doc_b"))
    ids.join(labels, ids("doc_id") === labels("node"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("doc_id"))
  }

  /** The dedup report (llm_dedup_cluster_stats' exact core) over a
    * (doc_id, cluster_id) label frame — e.g. [[clusters]]' output: per
    * cluster size, the cluster count, docs covered, removable
    * duplicates, and the size's corpus share. Returns (cluster_size,
    * n_clusters, n_docs, n_dupes, frac_docs), unordered. */
  def clusterStats(labels: DataFrame): DataFrame =
    LlmOps.dedupClusterStatsOf(labels)
}

/** Similarity search over embedding frames (vec_id, embedding). */
object Similarity {
  private def std(vecs: DataFrame, id: String, emb: String): DataFrame =
    vecs.select(col(id).as("vec_id"), col(emb).as("embedding"))

  /** Exact top-k cosine neighbors of each query vector against a broadcast
    * corpus: (q_id, rk, n_id, cos). Corpus must fit in a broadcast; cap or
    * partition the QUERY side at scale, or use [[trainCentroids]] +
    * [[assignCells]] for an IVF-style index. Requires [[Graft.register]].
    *
    * `excludeSelfId` (default true) drops the corpus row whose id EQUALS
    * the query id — right when the queries are a subset of the corpus
    * (self-match is a trivial cos=1). Pass false when query and corpus are
    * distinct frames that merely share an id domain, or the id-colliding
    * true neighbor would be silently excluded. */
  def knn(queries: DataFrame, corpus: DataFrame, k: Int = 5,
          idCol: String = "vec_id", embCol: String = "embedding",
          excludeSelfId: Boolean = true): DataFrame = {
    val out = LlmOps.knnOf(
      std(queries, idCol, embCol)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      std(corpus, idCol, embCol)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
      k, excludeSelfId)
    out
  }

  /** Build (or rebuild) a persisted LSH index at `path` — the day-1 store
    * for [[lshSearch]]'s layout: `vecs/` holds the vectors the exact
    * stage fetches, `bands/` the (n_id, band_idx, band_val) posting
    * (nBands small ints per vector, the multi-table LSH index — derived
    * from the written `vecs/`, so the corpus lineage evaluates ONCE and
    * the two halves cannot diverge), `meta/` the band knobs probes adopt.
    * The whole store is written into a staging dir and atomically renamed
    * over `path` (StoreDir.atomicSwap): the canonical path never holds a
    * torn store whose posting and meta disagree. Sign bands are
    * stateless — nothing is trained — so growing the index is
    * [[appendLshStore]], no rebuild. */
  def buildLshStore(corpus: DataFrame, path: String,
                    nBands: Int = 16, bandBits: Int = 4,
                    idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val c = std(corpus, idCol, embCol)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    graft.StoreDir.atomicSwap(path) { staging =>
      c.write.mode("overwrite").parquet(s"$staging/vecs")
      LlmOps.lshBandsOf(spark.read.parquet(s"$staging/vecs"),
          "n_id", "n_emb", nBands, bandBits)
        .write.mode("overwrite").parquet(s"$staging/bands")
      import spark.implicits._
      Seq((nBands, bandBits)).toDF("n_bands", "band_bits")
        .write.mode("overwrite").parquet(s"$staging/meta")
    }
  }

  /** Append a delta batch to a store built by [[buildLshStore]]: the
    * delta's posting is encoded with the STORED band knobs — O(delta)
    * work, nothing retrained, no day-1 re-encode (the LSH twin of the
    * incremental ANN append). Each batch lands as its own
    * `delta-<batchId>/{vecs,bands}` unit, built in staging and atomically
    * renamed into place, so a crash never publishes half a batch — and a
    * RETRY of the same batchId atomically replaces its own delta instead
    * of double-appending (the same replayed-batch convergence contract as
    * the streaming sinks; batchIds are the caller's idempotence key).
    * Ids should stay disjoint from day-1 — a duplicated id is two
    * legitimate index entries and will double-post. */
  def appendLshStore(delta: DataFrame, path: String, batchId: String,
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): Unit = {
    require(batchId.matches("[A-Za-z0-9_-]+"),
      s"batchId '$batchId' must be a plain [A-Za-z0-9_-]+ token (it names a store subdir)")
    val spark = delta.sparkSession
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val c = std(delta, idCol, embCol)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    graft.StoreDir.atomicSwap(s"$path/delta-$batchId") { staging =>
      c.write.mode("overwrite").parquet(s"$staging/vecs")
      LlmOps.lshBandsOf(spark.read.parquet(s"$staging/vecs"),
          "n_id", "n_emb", meta.getAs[Int]("n_bands"), meta.getAs[Int]("band_bits"))
        .write.mode("overwrite").parquet(s"$staging/bands")
    }
  }

  /** The store's physical parts for one half (`vecs` or `bands`): the
    * base dir plus every published `delta-*` batch. */
  private[graft] def lshParts(path: String, half: String): Seq[String] = {
    // Exact-match the PUBLISHED delta name shape: atomicSwap's staging
    // (`delta-<id>.build-<pid>`) and aside (`delta-<id>.old-<pid>`) dirs
    // contain a '.' the batchId charset forbids, so in-flight or crashed
    // swap litter is never read as a batch.
    val deltas = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("delta-[A-Za-z0-9_-]+"))
      .map(f => s"${f.getAbsolutePath}/$half")
    s"$path/$half" +: deltas.sorted
  }

  /** Probe a store built by [[buildLshStore]] (plus any
    * [[appendLshStore]] deltas): queries band-join the PERSISTED posting
    * (with the store's own band knobs, from `meta/`) and fetch only
    * candidate vectors — no corpus recompute. ApiSpec pins
    * probe-over-store ≡ direct [[lshSearch]], append ≡ full rebuild, and
    * append-retry idempotence; PlanSpec pins the posting comes from the
    * store scan. Set `excludeSelfId=false` when the queries are a
    * different frame that merely shares the corpus id domain — the
    * default would silently drop an id-colliding true neighbor (same
    * hazard [[knn]]'s flag names). */
  def lshProbe(queries: DataFrame, path: String,
               k: Int = 5, excludeSelfId: Boolean = true,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val q = std(queries, idCol, embCol)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    LlmOps.lshSearchPosting(q,
      spark.read.parquet(lshParts(path, "vecs"): _*),
      LlmOps.lshBandsOf(q, "q_id", "q_emb",
        meta.getAs[Int]("n_bands"), meta.getAs[Int]("band_bits")),
      spark.read.parquet(lshParts(path, "bands"): _*), k, excludeSelfId)
  }

  /** LSH-bucketed approximate top-k: sign-band hash tables (`nBands` ×
    * `bandBits` bits over the leading dims), exact cosine on candidates
    * sharing >= 1 whole band, (cos DESC, id ASC) top-k. The banded
    * candidate set is the operator's DEFINITION (sign-LSH cannot be exact
    * for cosine top-k); recall/selectivity dial = bands × width — this
    * corpus is near-random so the 16×4 default favors recall, while real
    * correlated embeddings want wider bands (8×8+). `excludeSelfId`
    * defaults to dropping id-equal pairs (self-search); pass false when
    * queries and corpus are different frames sharing an id domain, like
    * [[knn]]'s flag. Requires [[Graft.register]] (the exact cosine stage
    * uses the native `graft_cosine` Expression, like [[knn]]). */
  def lshSearch(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                nBands: Int = 16, bandBits: Int = 4,
                excludeSelfId: Boolean = true,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    LlmOps.lshKnnOf(
      std(queries, idCol, embCol)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      std(corpus, idCol, embCol)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
      k, nBands, bandBits, excludeSelfId)

  /** Seeded spherical k-means coarse quantizer (the IVF index build):
    * returns k (cell, cvec) centroids after `iters` Lloyd's rounds.
    * Deterministic — init is the first k vectors in id order (ANY numeric
    * id domain: seeds come from an ordered rank, not an id < k filter),
    * no RNG. */
  def trainCentroids(vecs: DataFrame, k: Int = 10, iters: Int = 2,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val e = std(vecs, idCol, embCol)
    // the centroid aggregate is compiled for the engine's fixed embedding
    // width — fail with a named contract instead of an opaque ANSI
    // element_at crash on a different-width corpus (one-row probe over
    // non-NULL vectors only: a NULL first row would make size() NULL and
    // turn this guard into the very opaque NPE it exists to prevent;
    // this is a day-1 training call, not a hot path)
    val probe = e.filter(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).limit(1).collect()
    require(probe.isEmpty || probe(0).getInt(0) == LlmOps.EmbDim,
      s"trainCentroids expects ${LlmOps.EmbDim}-dim embeddings, got ${probe(0).getInt(0)}")
    val wSeed = Window.orderBy("vec_id") // k rows post-limit — tiny window
    val init = e.orderBy("vec_id").limit(k)
      .withColumn("cell", (row_number().over(wSeed) - 1).cast("int"))
      .select(col("cell"),
              transform(col("embedding"), x => round(x.cast("double"), 6)).as("cvec"))
    LlmOps.kmeansCellsFrom(e, init, iters)
  }

  /** Nearest-centroid cell assignment (cos DESC, cell ASC tiebreak):
    * (vec_id, cell). With [[trainCentroids]] output this builds the IVF
    * posting lists a probed search scans. */
  def assignCells(vecs: DataFrame, centroids: DataFrame,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    std(vecs, idCol, embCol)
      .crossJoin(broadcast(centroids))
      .withColumn("cell_cos", Graft.cosine(col("embedding"), col("cvec")))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("cell_cos"), -col("cell"))).as("cell"))

  /** IVF-style approximate top-k: train-or-reuse centroids + probed search
    * inside the `nprobe` nearest cells only — recall is monotone in
    * nprobe (PropertySpec pins the curve on the test corpus). Pass the
    * [[trainCentroids]] output to amortize the index build across query
    * batches. Requires [[Graft.register]]. */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                k: Int = 5, nprobe: Int = 3,
                idCol: String = "vec_id", embCol: String = "embedding",
                excludeSelfId: Boolean = true): DataFrame =
    LlmOps.ivfSearchOf(std(queries, idCol, embCol), std(corpus, idCol, embCol),
                       centroids, nprobe, k, excludeSelfId)

  /** Semantic dedup (the SemDeDup shape) — llm_semdedup's exact transform
    * (shared core): per-vector (vec_id, cell, dup_of, keep) verdict where
    * keep ⇔ no smaller-id neighbor with cos ≥ τ INSIDE the vector's
    * trained cell. Candidates are cluster-bounded, never corpus-wide —
    * size `k` in [[trainCentroids]] with the corpus so cells stay
    * bounded. Requires [[Graft.register]]. */
  def semDedup(corpus: DataFrame, centroids: DataFrame, tau: Double = 0.3,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    LlmOps.semDedupOf(std(corpus, idCol, embCol), centroids, tau)

  /** Symmetric per-vector int8 quantization: (vec_id, scale, qvec, v) with
    * v the dequantized doubles — 4× storage at ≤0.015 cosine error
    * (PropertySpec bound). */
  def quantizeInt8(vecs: DataFrame, idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame =
    LlmOps.quantizeInt8Of(std(vecs, idCol, embCol))

  /** Train product-quantization codebooks (m=8 subspaces × 16 codes,
    * seeded L2 Lloyd's — deterministic, no RNG): (sub, code, cvec).
    * Train once, [[pqEncode]] many. */
  def pqCodebooks(vecs: DataFrame, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame =
    LlmOps.pqCodebooks(std(vecs, idCol, embCol))

  /** PQ-encode vectors against trained codebooks: (vec_id, codes, vhat) —
    * codes is the 8 B/vector index payload (32× vs fp32), vhat the
    * reconstruction an ADC shortlist scores; rerank the shortlist against
    * the fetched originals for the production two-stage search (the
    * llm_quantize_pq contract key is that exact pipeline). */
  def pqEncode(vecs: DataFrame, codebooks: DataFrame,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    LlmOps.pqEncode(std(vecs, idCol, embCol), codebooks)

  /** Composed IVF-PQ search — the full 100 TB index layout: coarse cells
    * ([[trainCentroids]]) bound which postings are scanned, PQ codes
    * ([[pqCodebooks]]) are what a posting stores, and the ADC shortlist →
    * exact rerank bounds fp32 reads to shortlist × queries. With nprobe =
    * #cells and shortlist ≥ corpus it provably equals exact brute force.
    * Requires [[Graft.register]]. */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame,
                  centroids: DataFrame, codebooks: DataFrame,
                  k: Int = 5, nprobe: Int = 3, shortlist: Int = 25,
                  idCol: String = "vec_id", embCol: String = "embedding",
                  excludeSelfId: Boolean = true): DataFrame =
    LlmOps.ivfPqSearchOf(std(queries, idCol, embCol), std(corpus, idCol, embCol),
                         centroids, codebooks, nprobe, shortlist, k, excludeSelfId)
  /** Hard-negative mining (llm_hard_negatives' exact core): per query
    * (q_id, q_emb, q_lbl), the top-`k` most cosine-similar candidates
    * (n_id, n_emb, n_lbl) of a DIFFERENT label — nearest wrong answers
    * for contrastive training. Candidates are broadcast; cap the query
    * side at scale, like [[knn]]. Calls [[Graft.register]] itself. */
  def hardNegatives(spark: SparkSession, queries: DataFrame,
                    candidates: DataFrame, k: Int = 3): DataFrame = {
    Graft.register(spark)
    graft.ops.LlmOps.hardNegativesOf(queries, candidates, k)
  }

  /** Partitioned-index health audit (llm_ann_lsh_stats / llm_ann_pq_stats
    * / llm_dedup_index_stats' exact core) over ANY (partition, bucket)
    * posting frame — LSH band tables, PQ code tables, IVF-within-shard
    * postings: per-bucket occupancy, in-partition fraction, and imbalance
    * vs uniform over that partition's observed buckets. One hash-agg over
    * index metadata plus a broadcast per-partition rollup — never touches
    * payloads, so the audit is metadata-priced at any corpus size.
    * Returns (partCol, bucketCol, n, frac 4dp, imbalance 4dp), unordered. */
  def indexStats(posting: DataFrame, partCol: String,
                 bucketCol: String): DataFrame =
    LlmOps.indexStatsOf(posting, partCol, bucketCol, "n")

  /** Mean-reciprocal-rank eval (llm_mrr_eval's exact core): `truth` =
    * (q_id, n_id) relevant pairs, `approx` = (q_id, n_id, rk) ranked
    * results; per query first_rank = min rank holding a truth pair (NULL
    * on a miss), rr = 1/first_rank else 0 — the how-early companion to
    * the recall eval's how-many. Query universe comes from `truth`, so
    * silent index misses score 0 instead of vanishing. Returns
    * (q_id, first_rank, rr 4dp), unordered. */
  def mrr(truth: DataFrame, approx: DataFrame): DataFrame =
    LlmOps.mrrEvalOf(truth, approx)

}

/** Text analysis / corpus hygiene over document frames. */
object Text {
  private def std(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"), col(text).as("text"))

  /** Sliding-window chunking (RAG / context-window prep) —
    * llm_chunk_overlap's exact core: `len`-char chunks every `stride`
    * chars (overlap = len - stride), each with 1-based offset, length,
    * text and an md5-prefix fingerprint; the last chunk always ends at the
    * text's end. Stateless per-row arithmetic, zero shuffle. */
  def chunk(docs: DataFrame, len: Int = TextOps.ChunkLen,
            stride: Int = TextOps.ChunkStride,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(len > 0 && stride > 0 && stride <= len,
      s"need 0 < stride <= len, got len=$len stride=$stride")
    TextOps.chunkOf(std(docs, idCol, textCol), len, stride)
  }

  /** T5/UL2-style span corruption (llm_span_mask's exact core):
    * contiguous `spanLen`-token spans are deterministically masked (~19%,
    * an md5-nibble rule on doc_id:span_id) and replaced by ordinal
    * `<extra_id_k>` sentinels. Row-local higher-order array ops — no
    * explode, no shuffle, no UDF; returns per-doc token/span accounting
    * plus a 160-char corrupted prefix. */
  def spanMask(docs: DataFrame, spanLen: Int = 3,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(spanLen > 0, s"need spanLen > 0, got $spanLen")
    TextOps.spanMaskOf(std(docs, idCol, textCol), spanLen)
  }

  /** Per-document quality signals: token count, mean token length,
    * stopword/punctuation ratios, composite score — llm_quality_score's
    * exact transform (shared core) with n_chars derived from the text. */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    TextOps.qualityScoreOf(
      std(docs, idCol, textCol)
        .withColumn("n_chars", length(col("text")).cast("long")))

  /** Quality-ranked token-budget cut — llm_token_budget's exact transform
    * (shared core): per-doc (doc_id, lang, toks, quality, keep) where
    * keep ⇔ the doc fits the per-`langCol` running token budget when
    * ranked by (quality DESC, doc_id ASC). Two-phase scalable plan — no
    * language-sized window partition anywhere. */
  def tokenBudget(docs: DataFrame, budget: Long = 2000,
                  idCol: String = "doc_id", textCol: String = "text",
                  langCol: String = "lang"): DataFrame =
    TextOps.tokenBudgetOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
                  col(langCol).as("lang"))
          .withColumn("n_chars", length(col("text")).cast("long")),
      budget)

  /** DSIR-style importance resampling (llm_dsir's shared core): per-doc
    * (doc_id, n_grams, weight, keep) importance weights toward the target
    * sub-corpus selected by `isTarget` (a boolean Column over the doc
    * row), over 256 hashed unigram+bigram feature buckets. keep ⇔ the
    * doc's hashed-feature distribution is closer to the target's than to
    * the raw corpus's. */
  def dsir(docs: DataFrame, isTarget: Column,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    TextOps.dsirOf(
      docs.withColumn("doc_id", col(idCol)).withColumn("text", col(textCol)),
      isTarget)

  /** Temperature-scaled mixture quotas (llm_mixture_temperature's shared
    * core, α = 0.5): per-`langCol` stratum (lang, n_docs, rate, thresh,
    * n_kept, kept_chars) under `budget` target docs — √n sampling shares
    * with the deterministic md5 doc gate. */
  def mixtureTemperature(docs: DataFrame, budget: Double = 300.0,
                         idCol: String = "doc_id", textCol: String = "text",
                         langCol: String = "lang"): DataFrame =
    TextOps.mixtureTemperatureOf(
      docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
                  length(col(textCol)).cast("long").as("n_chars")),
      budget)

  /** Gopher-style filter rules (word count / mean word length / distinct
    * ratio): (doc_id, wc, uniq_ratio, mean_wlen, pass) —
    * llm_gopher_quality's exact transform (shared core). */
  def gopherRules(docs: DataFrame, minWords: Int = 30, maxWords: Int = 100000,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    TextOps.gopherOf(std(docs, idCol, textCol), minWords, maxWords)

  /** Redact every match of `patterns` (pattern → replacement, applied in
    * order) and count matches: (doc_id, redacted, n_redactions). Defaults
    * are the shared llm_pii_redact email/phone patterns. NOTE:
    * `n_redactions` counts each pattern against the ORIGINAL text — with
    * patterns whose replacements create or consume later patterns' matches,
    * the count can differ from the rewrites actually applied. */
  def piiRedact(docs: DataFrame,
                patterns: Seq[(String, String)] = TextOps.PiiPatterns,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = std(docs, idCol, textCol)
    val redacted = patterns.foldLeft(col("text")) {
      case (acc, (p, r)) => regexp_replace(acc, p, r)
    }
    val counts = patterns.map { case (p, _) => regexp_count(col("text"), lit(p)) }
      .reduce(_ + _)
    base.select(col("doc_id"), redacted.as("redacted"),
                counts.cast("int").as("n_redactions"))
  }

  /** Benchmark decontamination (GPT-3-style n-gram rule): flag corpus docs
    * sharing any word-n-gram with `evalDocs`. Output (doc_id, n_hits,
    * contaminated) covers every corpus doc. Eval grams broadcast; corpus
    * text never shuffles. */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 13,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    LlmOps.decontaminateOf(std(corpus, idCol, textCol),
                           std(evalDocs, idCol, textCol), n)

  /** Training-sequence packing audit: docs packed contiguously per
    * md5-nibble shard in id order, bin = floor(preceding_tokens/budget) —
    * per-(shard, bin) doc/token counts, the fill-ratio check before
    * cutting training shards. */
  def packSequences(docs: DataFrame, budgetTokens: Int = 512,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    LlmOps.packAuditOf(std(docs, idCol, textCol), budgetTokens)

  /** Winnowing fingerprint sets (k=8 char-grams, window w=4):
    * (doc_id, fps). xxhash64 by default (production path). */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   hashImpl: String = "xxhash64"): DataFrame =
    TextOps.fingerprintsOf(
      std(docs, idCol, textCol).select(col("doc_id"), lower(col("text")).as("t")),
      hashImpl)

  /** Blocked approximate-string join (llm_fuzzy_join's exact core):
    * every `probes` row matched to the `catalog` strings within edit
    * distance ≤ 1 via symmetric-delete (SymSpell) blocking — provably
    * complete for k = 1, so the result equals the all-pairs definition
    * without ever comparing all pairs. Returns all probe columns + the
    * matched catalog column + `dist` ∈ {0, 1}. The catalog column name
    * must not collide with a probe column. */
  def fuzzyJoin(probes: DataFrame, probeCol: String,
                catalog: DataFrame, catalogCol: String): DataFrame =
    graft.ops.LlmOps.fuzzyPairs(probes, probeCol, catalog, catalogCol)

  /** Train a deterministic BPE merge table on the corpus (rank = highest
    * adjacent-pair count, lexicographic ties — retraining reproduces it
    * bit-identically) and return (ranked merges, vocab frame) where the
    * vocab's `syms` column IS each distinct word's tokenization. Training
    * state is vocabulary-sized, never corpus-sized; see the README
    * tokenizer-parity note for declared differences vs production
    * tokenizers. */
  def trainBpe(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): (Seq[(String, String)], DataFrame) =
    TextOps.bpeTrain(std(docs, idCol, textCol))

  /** Tokenize any word frame by replaying a trained merge table in rank
    * order — covers words the training corpus never saw. The replay is
    * algorithm-agnostic but NOT alphabet-agnostic: the merge table must
    * be over this char-split symbol set (a shipped byte-level table —
    * word-start markers, UTF-8 byte symbols — needs its matching
    * pre-tokenizer applied first, or its tokens silently diverge from
    * the shipped tokenizer's). For corpus words this equals
    * [[trainBpe]]'s vocab exactly. Returns (word, syms). */
  def applyBpe(words: DataFrame, merges: Seq[(String, String)],
               wordCol: String = "word"): DataFrame =
    TextOps.bpeApplyOf(words.select(col(wordCol).as("word")), merges)

  /** Byte-level BPE training: the same deterministic trainer core over
    * UTF-8 BYTE symbols under the regex pre-tokenizer
    * (letter runs / digit runs / single non-alnum char), so multi-byte
    * codepoints merge below the character level and no input is ever
    * out-of-alphabet — the production (GPT-style) tokenizer shape.
    * Returns (ranked merges, vocab) like [[trainBpe]]; symbols are
    * lowercase hex byte strings, so
    * `decode(unhex(concat_ws('', syms)), 'UTF-8')` reconstructs any word
    * from its tokens. */
  def trainBpeBytes(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): (Seq[(String, String)], DataFrame) =
    TextOps.bpeTrainWords(TextOps.byteWords(std(docs, idCol, textCol)))

  /** Replay a BYTE-level merge table from [[trainBpeBytes]] on any word
    * frame (words must come from the same pre-tokenizer — see
    * [[applyBpe]]'s alphabet note, which this variant resolves for the
    * byte alphabet). Returns (word, syms). */
  def applyBpeBytes(words: DataFrame, merges: Seq[(String, String)],
                    wordCol: String = "word"): DataFrame =
    TextOps.bpeApplyBytesOf(words.select(col(wordCol).as("word")), merges)

  /** Gap-based sessionization: assign a session id per (user, gap) run —
    * (all input columns, session_id). Batch twin of a streaming
    * session_window. One shuffle (everything partitions by the user col).
    * Pass `tieBreakCols` (e.g. an event id) when tsCol can tie within a
    * user — without it, tied rows order arbitrarily and a session split
    * landing between them is nondeterministic. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gapMinutes: Int = 30,
                 tieBreakCols: Seq[String] = Nil): DataFrame = {
    // withColumn would silently OVERWRITE these if the input already has
    // them (ADVICE r5) — fail fast instead of corrupting user columns.
    // The comparison follows the SESSION's resolver (ADVICE r6): under the
    // default caseInsensitive analysis a user's `Session_ID` would be
    // replaced too, so it must be rejected — but under
    // spark.sql.caseSensitive=true withColumn would NOT touch it, and
    // rejecting it would be a false-positive fail-fast.
    val resolver = events.sparkSession.sessionState.analyzer.resolver
    val clash = Seq("session_id", "__prev_us", "__new_s")
      .filter(w => events.columns.exists(c => resolver(c, w)))
    require(clash.isEmpty,
      s"sessionize writes columns $clash which already exist on the input; " +
      "rename or drop them first")
    val byUser = Window.partitionBy(userCol)
      .orderBy((col(tsCol) +: tieBreakCols.map(col)).map(_.asc): _*)
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapMinutes * 60000000L
    events
      .withColumn("__prev_us", lag(unix_micros(col(tsCol)), 1).over(byUser))
      .withColumn("__new_s",
        when(col("__prev_us").isNull ||
             unix_micros(col(tsCol)) - col("__prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum("__new_s").over(run))
      .drop("__prev_us", "__new_s")
  }
  /** Type-token ratio + Guiraud lexical-diversity per doc
    * (llm_ttr_diversity's exact core) — row-local, scan-speed. */
  def ttr(docs: DataFrame, idCol: String = "doc_id",
          textCol: String = "text"): DataFrame =
    graft.ops.TextOps.ttrOf(docs, idCol, textCol)

  /** ROUGE-1 P/R/F1 between candidate and reference texts sharing
    * `pair_id` (llm_rouge_overlap's exact core). Inputs:
    * cand (pair_id, cand_text), ref (pair_id, ref_text). */
  def rouge1(cand: DataFrame, ref: DataFrame): DataFrame =
    graft.ops.TextOps.rouge1Of(cand, ref)

  /** BLEU-2 between candidate and reference texts sharing `pair_id`
    * (llm_bleu's exact core) — clipped n-gram precision with the
    * brevity penalty, the precision-side twin of [[rouge1]]. Inputs:
    * cand (pair_id, cand_text), ref (pair_id, ref_text). Returns
    * (pair_id, cand_len, ref_len, m1, t1, m2, t2, bleu2). */
  def bleu2(cand: DataFrame, ref: DataFrame): DataFrame =
    graft.ops.TextOps.bleu2Of(cand, ref)

  /** Out-of-vocabulary rate per doc against the corpus's own top-`k`
    * term vocabulary (llm_oov_rate's exact core) — the tokenizer-fit
    * audit; the vocab is k-bounded however large the corpus. */
  def oovRate(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", k: Int = 1000): DataFrame =
    graft.ops.LlmOps.oovRateOf(docs, idCol, textCol, k)

  /** SFT chat-template rendering (llm_sft_format's exact core):
    * prompts (pair_id, prompt) × responses (pair_id, response) rendered
    * with role sentinels + a token-budget verdict. */
  def sftFormat(prompts: DataFrame, responses: DataFrame,
                budget: Int = 2048): DataFrame =
    graft.ops.TextOps.sftFormatOf(prompts, responses, budget)

  /** One-row dataset-card rollup (llm_corpus_stats' exact core) over a
    * (doc_id, text, lang, n_chars) frame. */
  def corpusStats(docs: DataFrame): DataFrame =
    graft.ops.TextOps.corpusStatsOf(docs)

  /** Jensen-Shannon divergence in bits between two `tagCol` slices'
    * term distributions (llm_js_divergence's exact core) — the
    * corpus-mix drift monitor; support capped at `topK` terms plus an
    * `<other>` bucket so no mass is dropped at any corpus size.
    * Returns one row (n_a, n_b, n_cells, js_bits). */
  def jsDivergence(docs: DataFrame, textCol: String, tagCol: String,
                   a: String, b: String, topK: Int = 100): DataFrame =
    graft.ops.TextOps.jsDivergenceOf(docs, textCol, tagCol, a, b, topK)

  /** Classifier scorecard of the trigram language-ID against the
    * labeled `lang` (llm_langid_eval's exact core): accuracy, Cohen's
    * kappa (exact-integer formulation), macro-F1 over truth classes.
    * Expects (doc_id, lang, text). Returns one row (n_docs, n_correct,
    * n_classes, accuracy, kappa, macro_f1). */
  def langidEval(docs: DataFrame): DataFrame =
    graft.ops.TextOps.langidEvalOf(docs)

  /** One-EM-round unigram-LM tokenizer training (llm_unigram_tokenize's
    * exact trainer core; Kudo 2018, the SentencePiece unigram model):
    * piece → logprob over the corpus's whitespace words. The model is
    * driver-bounded (seed K + alphabet) — ship it to [[unigramSegment]]
    * or persist it as the day-1 tokenizer artifact. */
  def trainUnigram(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): Map[String, Double] =
    graft.ops.TextOps.unigramTrain(
      graft.ops.TextOps.ugWords(std(docs, idCol, textCol)))

  /** Viterbi-segment every distinct whitespace word of `docs` under a
    * [[trainUnigram]] model → (word, ps array). Pure higher-order folds
    * over the distinct-word frame — corpus text never shuffles; join the
    * result back to tokenize at corpus scale. */
  def unigramSegment(docs: DataFrame, model: Map[String, Double],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    graft.ops.TextOps.ugSegment(
      graft.ops.TextOps.ugWords(std(docs, idCol, textCol)), model)
}

/** Ingestion plumbing — the reference pipeline's shape (JSON records →
  * normalized columns → relational store), reusable batch or streaming:
  * every transform here binds unchanged under `readStream` (pass the
  * result to `writeStream.foreachBatch(Ingest.jdbcUpsert(...))` for the
  * exactly-once JDBC path the `stream_jdbc_sink` contract key proves). */
object Ingest {
  /** Flatten a JSON-string column into typed top-level columns per the DDL
    * schema (e.g. `"k INT, tag STRING"`). Unparseable rows yield nulls —
    * filter on a mandatory field to quarantine them. */
  def parseJson(df: DataFrame, jsonCol: String, ddl: String): DataFrame = {
    val parsed = df.withColumn("__parsed",
      from_json(col(jsonCol), org.apache.spark.sql.types.StructType.fromDDL(ddl)))
    parsed.select((df.columns.map(col) :+ col("__parsed.*")): _*)
  }

  /** Stub-codec frame sampling over a document/asset frame: cut each
    * payload into `frameLen`-char frames, keep every `stride`-th with its
    * md5 digest — the video-keyframe access pattern with the container's
    * declared stub codec (frames window the DECODED text; raw-byte ingest
    * is the binaryFile source). Per-row codegen'd exprs, explode bounded
    * by ceil(len/frameLen)/stride rows per doc, no shuffle; the stride is
    * the I/O dial at scale. Same core as `llm_multimodal_framesample`. */
  def frameSample(docs: DataFrame, frameLen: Int = 64, stride: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    LlmOps.frameSampleOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      frameLen, stride)

  /** Copy-on-write MERGE/upsert over snapshot frames — sink_merge_upsert's
    * exact core: `updates` rows replace base rows sharing `keyCols`,
    * unmatched updates insert; write the result back partitioned to
    * complete the rewrite. The updates side is broadcast (a CDC delta is
    * the small side by definition), so the base snapshot never shuffles.
    * Both frames must share a schema. */
  def mergeUpsert(base: DataFrame, updates: DataFrame,
                  keyCols: Seq[String]): DataFrame =
    graft.ops.ScanOps.mergeUpsertOf(base, updates, keyCols)

  /** (keys..., change ∈ added|deleted|changed) between two snapshot
    * versions of one table — the reverse of [[mergeUpsert]]: recover the
    * CDC delta when upstream only republishes full snapshots. Each side
    * collapses to (key, md5 row fingerprint) at the scan, so the one
    * full-outer shuffle moves 16-byte fingerprints, not payloads; key
    * equality is NULL-SAFE, and unchanged keys are dropped in the same
    * stage (set_snapshot_diff's exact core, analytically oracle-gated). */
  def snapshotDiff(base: DataFrame, next: DataFrame, keys: Seq[String]): DataFrame =
    graft.ops.RelOps.snapshotDiff(base, next, keys)

  /** Time-series gap fill + forward fill → (keyCol, day, observed,
    * filled): the per-key daily rollup of `valueCol` densified onto each
    * key's own [first, last] day grid, silent days carrying the last
    * observed value (win_gap_fill's exact core). `day` is a midnight
    * TIMESTAMP; `filled` is total (each grid starts at an observation).
    * Shuffles only on (key, day) — per-key grids generate from each key's
    * 2-column span row, never a global calendar cross join. */
  def gapFill(df: DataFrame, keyCol: String, tsCol: String,
              valueCol: String): DataFrame =
    graft.ops.WinOps.gapFillOf(df, keyCol, tsCol, valueCol)

  /** Time-series gap fill + LINEAR interpolation → (keyCol, day,
    * observed, interp): [[gapFill]]'s twin for signals that trend between
    * samples — each silent day takes the straight line between its two
    * observed anchors instead of carrying the previous value
    * (win_gap_interpolate's exact core). Same per-key grid plumbing, one
    * extra mirrored ignoreNulls window; `interp` is total. */
  def gapInterpolate(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String): DataFrame =
    graft.ops.WinOps.gapInterpolateOf(df, keyCol, tsCol, valueCol)

  /** Rolling z-score anomaly detection (win_rolling_zscore's exact core):
    * adds (z 4dp, is_outlier at 3σ), each value scored against the
    * mean/σ of its `lookback` TRAILING rows — the frame ends at the
    * previous row, so a spike never dampens its own score. Rows with
    * fewer than `minPoints` trailing values are dropped as warm-up; a
    * zero-variance window yields NULL z. For integral-valued series the
    * moment sums are exact in any accumulation order. */
  def rollingZscore(df: DataFrame, keyCol: String, orderCols: Seq[String],
                    valueCol: String, lookback: Int = 20,
                    minPoints: Int = 8): DataFrame =
    graft.ops.WinOps.rollingZscoreOf(df, keyCol, orderCols, valueCol,
                                     lookback, minPoints)

  /** Exponentially-weighted moving average (pandas `ewm(adjust=True)`
    * semantics) of `valCol` ordered by `ordCol` within each `keyCol`
    * group — adds an `ewma` column (4dp). This is the BLOCK-RENORMALIZED
    * form (win_ewma_block's exact core): every exponent is bounded by the
    * block size, so arbitrarily long per-key series never overflow —
    * unlike the textbook ratio-form cumsum, which goes NaN near row 2000
    * at alpha = 0.3. Shuffles only on (key[, block]). */
  def ewma(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
           alpha: Double = 0.3): DataFrame =
    graft.ops.WinOps.ewmaBlockOf(df, keyCol, ordCol, valCol, alpha)

  /** Idempotent keyed JDBC upsert as a `foreachBatch` body: per partition,
    * one transaction of DELETE-by-key + INSERT-all-columns batches, so a
    * REPLAYED micro-batch (failure recovery) converges instead of
    * double-counting — the exactly-once JDBC sink recipe. The target table
    * must exist with the batch's column order; `keyCols` should be its
    * primary key. Each partition opens its own connection (executor-side;
    * nothing routes through the driver). */
  def jdbcUpsert(url: String, table: String, keyCols: Seq[String])
                (batch: DataFrame, batchId: Long): Unit = {
    // Identifiers are interpolated into SQL text — validate instead of
    // trusting (ADVICE r5): plain identifiers only, table may be
    // schema-qualified. Quoting would change case-folding semantics per
    // backend; a strict allowlist sidesteps both injection and folding.
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    require(table.matches(s"$ident(\\.$ident)?"),
      s"table '$table' is not a plain (optionally schema-qualified) identifier")
    keyCols.foreach(k => require(k.matches(ident),
      s"key column '$k' is not a plain identifier"))
    val cols = batch.columns.toSeq
    val keyIdx = keyCols.map(cols.indexOf)
    require(keyIdx.forall(_ >= 0), s"keyCols $keyCols not all in $cols")
    val delSql = s"DELETE FROM $table WHERE " +
      keyCols.map(k => s"$k = ?").mkString(" AND ")
    val insSql = s"INSERT INTO $table VALUES (" +
      cols.map(_ => "?").mkString(", ") + ")"
    // Co-locate each key in ONE partition: without this, a batch carrying
    // the same key in two partitions runs concurrent DELETE+INSERT
    // transactions on that key — PK violation or deadlock, not an upsert.
    // (Rows DUPLICATED per keyCols within the batch still insert twice —
    // pre-aggregate to one row per key before calling.)
    batch.repartition(keyCols.map(col): _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(delSql)
          val ins = conn.prepareStatement(insSql)
          try {
            rows.foreach { r =>
              keyIdx.zipWithIndex.foreach { case (ki, i) =>
                del.setObject(i + 1, r.get(ki))
              }
              del.addBatch()
              cols.indices.foreach(i => ins.setObject(i + 1, r.get(i)))
              ins.addBatch()
            }
            del.executeBatch(); ins.executeBatch()
            conn.commit()
          } catch {
            case e: Throwable =>
              // explicit rollback: close-with-open-transaction behavior is
              // DRIVER-DEFINED (some drivers commit!) — a half-applied
              // DELETE without its INSERT must never persist
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          } finally {
            try del.close() catch { case _: Throwable => () }
            try ins.close() catch { case _: Throwable => () }
          }
        } finally conn.close()
      }
    }
  }
  /** Classical seasonal decomposition of the per-key daily series
    * (win_seasonal_decompose's exact core): value = trend (centered
    * 7-day MA) + seasonal (per-weekday mean detrended deviation) +
    * residual, DECIMAL-exact accumulation throughout. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String): DataFrame =
    graft.ops.WinOps.seasonalDecomposeOf(df, keyCol, tsCol, valueCol)

  /** Drawup/CUSUM level-shift detector on the per-key daily series
    * (win_cusum_drawup's exact core): running DECIMAL-exact detrended
    * sum, drawup = S − running min — a rising drawup is accumulating
    * positive drift. */
  def cusumDrawup(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String): DataFrame =
    graft.ops.WinOps.cusumDrawupOf(df, keyCol, tsCol, valueCol)

}

/** Deterministic sampling / sharding — hash gates, never RNG: the decision
  * is a pure function of the row id, so samples reproduce across runs,
  * engines and cluster sizes, and the filter runs at the scan. */
object Sampling {
  /** Keep each row of stratum s with probability ≈ rates(s) (granularity
    * 1/256): gate = first 2 md5 hex chars of the id. Rows in strata absent
    * from `rates` fall back to `defaultRate`. */
  def mixture(df: DataFrame, stratumCol: String, rates: Map[String, Double],
              defaultRate: Double = 1.0, idCol: String = "doc_id"): DataFrame = {
    // rate ≥ 1.0 must keep EVERYTHING: its 2-hex threshold would be "100",
    // which string-compares BELOW almost every gate ("ff" > "100") and
    // silently drops rows — use a sentinel above any hex digit instead.
    // The same overflow hides one ULP lower: round(r*256) = 256 for
    // r ∈ [255.5/256, 1.0), so sub-1.0 rates clamp to 255 ("ff" keeps
    // 255/256 — the gate's granularity floor).
    def hex2(r: Double): String =
      if (r >= 1.0) "zz"
      else f"${math.max(0, math.min(255, math.round(r * 256))).toInt}%02x"
    val gate = substring(md5(col(idCol).cast("string")), 1, 2)
    val thresh = rates.foldLeft(when(lit(false), "")) {
      case (acc, (k, r)) => acc.when(col(stratumCol) === k, hex2(r))
    }.otherwise(hex2(defaultRate))
    df.filter(gate < thresh)
  }

  /** Deterministic shard assignment: (input columns, shard ∈ [0, nShards)).
    * The same expression drives a balanced `repartition`/`partitionBy`
    * write. (Same md5 family as llm_doc_shard's nibble audit, but general
    * over any shard count — 8 hex chars mod n, not the first nibble.) */
  def shard(df: DataFrame, nShards: Int = 16, idCol: String = "doc_id"): DataFrame =
    df.withColumn("shard",
      pmod(conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
             .cast("long"), lit(nShards)).cast("int"))

  /** Deterministic train/valid/test assignment (~80/10/10): appends
    * `bucket` (0..255, the id's first md5 byte) and `split`. Salt-free and
    * content-independent — membership is stable under corpus growth and
    * re-partitioning. llm_stratified_split's exact core. */
  def split(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    TextOps.splitAssignOf(df, idCol)
  /** DPO/RLHF preference pairs (llm_dpo_pairs' exact core): per
    * `grpCol`, the highest-`scoreCol` row (chosen) vs the lowest
    * (rejected), kept when the margin ≥ `minMargin`; (score, id)
    * tiebreaks make both picks total-order deterministic. Score columns
    * surface as chosen_<scoreCol>/rejected_<scoreCol>. */
  def preferencePairs(df: DataFrame, grpCol: String, idCol: String,
                      scoreCol: String, minMargin: Long = 0L): DataFrame =
    graft.ops.LlmOps.dpoPairsOf(df, grpCol, idCol, scoreCol, minMargin)

}

/** Frequency statistics at cardinalities where a full groupBy is the
  * bottleneck. */
object Stats {
  /** EXACT heavy hitters (frequency > n/256) of `valueCol`, via a k=256
    * Misra–Gries sketch pass + an exact candidate-restricted recount —
    * output (valueCol, cnt, n_total) is deterministic and provably
    * complete (mergeable-summaries bound; see AggOps.MisraGries). The
    * shuffle carries ≤k rows per partition, never the full distinct-key
    * set — the "top tokens/URLs over billions of distinct keys" shape.
    * `valueCol` must be a string column; null values carry no frequency
    * and are ignored by both passes. */
  def heavyHitters(df: DataFrame, valueCol: String): DataFrame =
    graft.ops.AggOps.heavyHittersOf(df, valueCol)

  /** Welch two-sample t-test of `valueCol` between cohorts `a` and `b` of
    * `cohortCol` (agg_ab_ttest's exact core): one conditional-aggregation
    * pass collects each cohort's DECIMAL-exact (n, Σx, Σx²); mean,
    * variance, t and the Welch–Satterthwaite df are scalar arithmetic on
    * the single result row — the fact table is scanned once. */
  def welchTTest(df: DataFrame, cohortCol: String, a: String, b: String,
                 valueCol: String): DataFrame =
    graft.ops.AggOps.ttestOf(df, cohortCol, a, b, valueCol)

  /** Per-cohort Gini coefficient of `valueCol` (agg_gini's exact core) —
    * the concentration/inequality metric; `tieCol` only stabilizes the
    * internal rank (ties are algebraically harmless). */
  def gini(df: DataFrame, cohortCol: String, valueCol: String,
           tieCol: String): DataFrame =
    graft.ops.AggOps.giniOf(df, cohortCol, valueCol, tieCol)

  /** Deterministic Poisson-bootstrap CI of `valueCol`'s mean
    * (agg_bootstrap_ci's exact core): 32 md5-seeded resamples in ONE scan
    * as conditional-aggregate slots — no row explosion, no RNG. `keyCol`
    * must be unique per row. Returns one row
    * (n_resamples, ci_lo, ci_hi, boot_mean). */
  def bootstrapMeanCi(df: DataFrame, valueCol: String,
                      keyCol: String): DataFrame =
    graft.ops.AggOps.bootstrapMeanCiOf(df, valueCol, keyCol)

  /** Shannon entropy (bits) of `typeCol`'s mix per `groupCol`
    * (agg_entropy's exact core) — the behavioral-diversity / bot signal.
    * The p·log2 p fold runs over a sorted count list, so the result is
    * bit-identical at any parallelism. Returns (groupCol, n, n_types,
    * entropy_bits), unordered. */
  def entropy(df: DataFrame, groupCol: String, typeCol: String): DataFrame =
    graft.ops.AggOps.entropyOf(df, groupCol, typeCol)

  /** Two-sample Kolmogorov–Smirnov D of `valueCol` between `tagCol`
    * cohorts `a` and `b` (agg_ks_test's exact core) — distribution-drift
    * detection. The ECDF window runs over the distinct-value grid, never
    * the corpus. Returns one row (n_a, n_b, ks_d). */
  def ksTest(df: DataFrame, valueCol: String, tagCol: String,
             a: String, b: String): DataFrame =
    graft.ops.AggOps.ksTestOf(df, valueCol, tagCol, a, b)

  /** Pearson χ² independence of the `aCol` × `bCol` contingency
    * (agg_chi_square's exact core) — the confounding check for
    * categorical pairs. Returns one row (n_cells, dof, chi2). */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame =
    graft.ops.AggOps.chiSquareOf(df, aCol, bCol)

  /** Cramer's V effect size of the `aCol` × `bCol` contingency
    * (agg_cramers_v's exact core) — chi-square says an association
    * exists; V says how strong, on [0, 1], comparable across table
    * shapes and corpus sizes. Returns one row (n, n_cells, dof, chi2,
    * cramers_v, strength). */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame =
    graft.ops.AggOps.cramersVOf(df, aCol, bCol)

  /** Median-absolute-deviation outlier screen per `keyCol`
    * (agg_mad_outliers' exact core) — the robust 3σ twin; `k` scales the
    * 1.4826·MAD threshold. Returns per-key (keyCol, n, median, mad,
    * n_outliers), unordered. */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame =
    graft.ops.AggOps.madOutliersOf(df, keyCol, valueCol, k)

  /** Mann-Kendall monotonic-trend test per `groupCol` over the daily
    * count series of `tsCol` (agg_mann_kendall's exact core) — "is this
    * feed growing or decaying?" without assuming linearity. S and the
    * tie-corrected variance are exact integers on the calendar-bounded
    * grid. Returns (group, n_days, s_stat, var18, z, trend), unordered. */
  def mannKendall(df: DataFrame, groupCol: String, tsCol: String): DataFrame =
    graft.ops.AggOps.mannKendallOf(df, groupCol, tsCol)

  /** Mann-Whitney U rank-sum test of `valueCol` between `tagCol`
    * cohorts `a` and `b` (agg_mann_whitney's exact core) — the
    * rank-based location test (no normality assumption); ranks and U
    * are exact integers on the distinct-value grid. Returns one row
    * (n_a, n_b, u_a, z, significant). */
  def mannWhitney(df: DataFrame, valueCol: String, tagCol: String,
                  a: String, b: String): DataFrame =
    graft.ops.AggOps.mannWhitneyOf(df, valueCol, tagCol, a, b)

  /** Wald-Wolfowitz runs test per `keyCol` over the daily count series
    * of `tsCol` (win_runs_test's exact core) — streaking vs
    * oscillation vs randomness in day-over-day movement; counts are
    * exact integers on the daily grid. Returns (key, n_up, n_down,
    * n_runs, z, random), unordered. */
  def runsTest(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
    graft.ops.WinOps.runsTestOf(df, keyCol, tsCol)

  /** Theil-Sen robust trend line per `groupCol` over the daily count
    * series of `tsCol` (agg_theil_sen's exact core) — median of
    * pairwise slopes (events/day, ~29% breakdown point) with
    * intercept = median(y - m*x); the magnitude twin of
    * [[mannKendall]]'s direction test. Returns (group, n_days,
    * n_pairs, slope, intercept), unordered. */
  def theilSen(df: DataFrame, groupCol: String, tsCol: String): DataFrame =
    graft.ops.AggOps.theilSenOf(df, groupCol, tsCol)

  /** Kendall tau-b rank correlation per `groupCol` between the daily
    * count and daily distinct-`userCol` reach of `tsCol`
    * (agg_kendall_tau's exact core) — outlier-proof co-movement with
    * tie correction; C-D and tie terms are exact integers on the
    * calendar-bounded grid. Returns (group, n_days, cd, n0, n1, n2,
    * tau), unordered. */
  def kendallTau(df: DataFrame, groupCol: String, tsCol: String,
                 userCol: String): DataFrame =
    graft.ops.AggOps.kendallTauOf(df, groupCol, tsCol, userCol)

  /** Spearman rank correlation per `groupCol` between the daily count
    * and daily distinct-`userCol` reach of `tsCol` (agg_spearman's
    * exact core) — rank-linear association with average-tie ranks;
    * moment sums are exact order-free doubles. Returns (group, n_days,
    * rho), unordered. */
  def spearman(df: DataFrame, groupCol: String, tsCol: String,
               userCol: String): DataFrame =
    graft.ops.AggOps.spearmanOf(df, groupCol, tsCol, userCol)

  /** Herfindahl-Hirschman concentration of each `keyCol`'s composition
    * over `catCol` (agg_hhi's exact core) — category-mix / market-share
    * concentration from exact counts. Returns (keyCol, n_rows, n_cats,
    * hhi, top_share, eff_cats), unordered. */
  def hhi(df: DataFrame, keyCol: String, catCol: String): DataFrame =
    graft.ops.AggOps.hhiOf(df, keyCol, catCol)

  /** Market-basket association rules from a (basket, item) frame
    * (agg_association_rules' exact core): pairs co-occurring in ≥
    * `minPairs` baskets with support/confidence/lift — pair expansion
    * stays co-partitioned on the basket key, metrics are integer-count
    * ratios. Input columns must be named basket/item. */
  def associationRules(baskets: DataFrame, minPairs: Long = 2L): DataFrame =
    graft.ops.AggOps.associationRulesOf(baskets, minPairs)

  /** Benford first-digit screen of a 2dp money column (agg_benford's
    * exact core): digits from exact integer cents. Returns per-digit
    * (digit, n, observed, expected). */
  def benford(df: DataFrame, valueCol: String): DataFrame =
    graft.ops.AggOps.benfordOf(df, valueCol)

  /** Decile lift table over a pre-scored (idCol, scoreCol, respCol 0/1)
    * frame (agg_decile_lift's exact core) — explicit decile index, not
    * engine-defined NTILE. */
  def decileLift(scored: DataFrame, idCol: String, scoreCol: String,
                 respCol: String): DataFrame =
    graft.ops.AggOps.decileLiftOf(scored, idCol, scoreCol, respCol)

  /** Autocorrelation (lags 1..maxLag) of the per-key DAILY series of
    * `valueCol` (win_autocorr's exact core) — Pearson r from explicit
    * order-exact moments, engine-stable. */
  def autocorr(df: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, maxLag: Int = 3): DataFrame =
    graft.ops.WinOps.autocorrOf(df, keyCol, tsCol, valueCol, maxLag)
}

/** Bounded-memory mergeable sketch structures (agg_count_min /
  * agg_bloom_membership cores). Both use the md5-fold hash family —
  * deterministic and cross-engine reproducible; swap xxhash64 in
  * production exactly like the TextHash flag family. */
object Sketch {
  /** Count–min cells (j, bucket, c): `depth` hash rows × `width` buckets
    * over `items(keyCol)`'s frequency stream. One corpus-scale hash agg
    * (per-key counts), then cell sums by linearity; depth ≤ 5. */
  def countMin(items: DataFrame, keyCol: String,
               depth: Int = 4, width: Int = 1024): DataFrame =
    graft.ops.AggOps.countMinCellsOf(items, keyCol, depth, width)

  /** Point estimates → (keyCol, cms_est = min over rows of its cell).
    * `cells` must come from [[countMin]] with the same geometry.
    * Overestimate-only: est ≥ true count, always; every probe key gets a
    * row (a probe landing on any untouched bucket estimates 0). */
  def countMinEstimate(cells: DataFrame, probes: DataFrame, keyCol: String,
                       depth: Int = 4, width: Int = 1024): DataFrame =
    graft.ops.AggOps.countMinEstimateOf(cells, probes, keyCol, depth, width)

  /** Bloom bit set (j, bit) over `members(keyCol)` — ≤ k·m rows at any
    * scale; broadcast it to pre-filter a probe stream before an exact
    * join. */
  def bloomBits(members: DataFrame, keyCol: String,
                k: Int = 4, bits: Int = 4096): DataFrame =
    graft.ops.AggOps.bloomBitsOf(members, keyCol, k, bits)

  /** Probe verdicts → (keyCol, bloom_hit 0/1): hit iff all k bits set.
    * No false negatives; FP rate = (1−e^{−kn/m})^k. */
  def bloomProbe(bits: DataFrame, probes: DataFrame, keyCol: String,
                 k: Int = 4, m: Int = 4096): DataFrame =
    graft.ops.AggOps.bloomProbeOf(bits, probes, keyCol, k, m)
}

/** Declarative data-quality gates (obs_dq_checks' row-local core). */
object Quality {
  /** Evaluate every `name -> violation predicate` rule in ONE pass over
    * `df` → (rule, n_violations) rows. Rule names must be identifiers.
    * Relational rules (FK existence, uniqueness) need joins — compose
    * them with unionByName like the obs_dq_checks contract key does. */
  def expect(df: DataFrame, rules: Seq[(String, Column)]): DataFrame =
    graft.ops.ScanOps.expectOf(df, rules)

  /** Population-stability index of `valueCol` between the rows flagged
    * true by `isExpCol` (expected period) and the rest (actual period) —
    * obs_drift_psi's exact core; PSI > 0.2 is the conventional retrain
    * alarm. Fixed-width bands (`bandWidth` × `nBands`), Haldane-smoothed
    * cells, sorted bit-stable fold. Returns one row
    * (n_expected, n_actual, psi). */
  def psi(df: DataFrame, valueCol: String, isExpCol: String,
          bandWidth: Double, nBands: Int = 10): DataFrame =
    graft.ops.ScanOps.psiOf(df, valueCol, isExpCol, bandWidth, nBands)

  /** Embedding-drift monitor (obs_drift_embedding's exact core) —
    * [[psi]]'s twin for vector columns, the training/serving-skew check
    * between corpus snapshots. `df` needs (`isExpCol` BOOLEAN,
    * `embCol` ARRAY<numeric>) with non-null vectors (filter upstream —
    * same ingest reject as the ANN stores). Returns one row
    * (n_expected, n_actual, psi, centroid_cos, avg_norm_exp,
    * avg_norm_act): PSI over 20 bands of each vector's cosine to the
    * EXPECTED-period (training) centroid — a global-centroid reference
    * would be blind to symmetric rotations — the two periods' centroid
    * cosine (1.0 = no shift), and each period's mean L2 norm. */
  def embeddingDrift(df: DataFrame, isExpCol: String = "is_exp",
                     embCol: String = "embedding"): DataFrame =
    graft.ops.ScanOps.embeddingDriftOf(
      df.select(col(isExpCol).as("is_exp"), col(embCol).as("embedding")))

  /** k-anonymity audit (obs_k_anonymity's exact core): per threshold in
    * `ks`, how many quasi-identifier groups — and what fraction of rows —
    * are smaller than k (re-identifiable at that privacy level), plus the
    * frame's actual min group size. One QI hash-agg (bounded by the QI
    * domain, never corpus size) + a 1-row rollup unstacked to the
    * k-table. Returns (k, min_k, n_groups_below, n_rows_below,
    * frac_rows_below 4dp), unordered. */
  def kAnonymity(df: DataFrame, qiCols: Seq[String],
                 ks: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame =
    graft.ops.ScanOps.kAnonymityOf(df, qiCols, ks)

  /** l-diversity audit (obs_l_diversity's exact core) — [[kAnonymity]]'s
    * homogeneity-attack companion: per threshold in `ls`, how many QI
    * groups (and what row fraction) carry fewer than l DISTINCT
    * `sensCol` values, plus the actual min diversity. A group can be
    * k-anonymous yet fully disclosing if everyone in it shares the
    * sensitive value — this is the audit that catches it. Returns
    * (l, min_l, n_groups_below, n_rows_below, frac_rows_below 4dp),
    * unordered. */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensCol: String,
                 ls: Seq[Int] = Seq(2, 3, 4)): DataFrame =
    graft.ops.ScanOps.lDiversityOf(df, qiCols, sensCol, ls)

  /** t-closeness audit (obs_t_closeness's exact core) — the
    * distribution-skew companion completing the trio with [[kAnonymity]]
    * and [[lDiversity]]: per threshold (in hundredths, t100 = 20 means
    * t = 0.20), how many QI groups (and what row fraction) have an
    * ordered-band Earth Mover's Distance ABOVE t from the global
    * sensitive distribution, plus the frame's actual max EMD. `bandCol`
    * is a LONG band id (clamped into [0, nBands)); the EMD numerator is
    * exact int64, so the verdicts carry zero float drift. Returns
    * (t, max_emd 4dp, n_groups_above, n_rows_above, frac_rows_above
    * 4dp), unordered. */
  def tCloseness(df: DataFrame, qiCols: Seq[String], bandCol: String,
                 nBands: Int, t100s: Seq[Int] = Seq(10, 20, 30)): DataFrame =
    graft.ops.ScanOps.tClosenessOf(df, qiCols, bandCol, nBands, t100s)

  /** Column-profile audit (obs_profile's exact core) — first-contact
    * data profiling: per column, rows, nulls, EXACT distinct count, and
    * numeric min/max (null for columns outside `numericCols`). One
    * stacked scan + one pre-agg however many columns are profiled.
    * Returns (col_name, n_rows, n_null, frac_null, n_distinct, min_v,
    * max_v), unordered. */
  def profile(df: DataFrame, cols: Seq[String],
              numericCols: Set[String] = Set.empty): DataFrame =
    graft.ops.ScanOps.profileOf(df, cols, numericCols)
}

/** Graph analytics over (src, dst) edge frames. */
object Graph {
  /** Scaled PageRank (d = 0.85, ranks sum to N) after `iters` fixed
    * rounds — graph_pagerank's exact core. The edge frame is hash-
    * partitioned on src once and cached (every round's join reuses the
    * exchange); ranks are lineage-cut per round, with the reliable-
    * checkpoint conf (`spark.graft.checkpoint.reliable`) honored for real
    * clusters. Every node must have out-degree ≥ 1 (emit both directions
    * for an undirected graph) — dangling nodes would leak rank mass;
    * in-degree-0 sources are fine: each round re-anchors on the node
    * universe, so they keep their (1-d) base rank and keep contributing. */
  def pageRank(edges: DataFrame, iters: Int = 3,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.pageRankOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), iters)

  /** Connected components of an undirected pair list → (node, component),
    * component = the component's minimum node id. The llm_neardup_clusters
    * / graph_components core: min-label propagation + pointer jumping run
    * to fixpoint — O(log n) rounds of joins, no driver-side union-find.
    * Pass each undirected edge once (either direction); both directions
    * are derived internally. */
  def components(edges: DataFrame,
                 srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.LlmOps.resolveClusters(
        edges.select(col(srcCol).as("doc_a"), col(dstCol).as("doc_b")))
      .select(col("node"), col("lbl").as("component"))

  /** Personalized PageRank from a single seed node → (node, rank), the
    * "related entities" primitive: restart mass concentrates at `seed`
    * instead of spreading uniformly, so ranks measure importance RELATIVE
    * to the seed. Same per-iteration mechanics (cached src-partitioned
    * edges, nodes-sized rank frame, lineage cuts) as [[pageRank]];
    * graph_ppr's exact core. Unreached nodes hold exactly 0.0. */
  def personalizedPageRank(edges: DataFrame, seed: String, iters: Int = 3,
                           srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.pprOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), seed, iters)

  /** Per-node triangle counts → (node, triangles) — graph_triangles's
    * exact core. Pass each undirected edge ONCE, oriented src < dst (the
    * orientation is what makes each triangle enumerate exactly once);
    * wedge-join fan-out is bounded by out-degree, so orient by degree
    * then id on graphs with hubs. Nodes in no triangle are absent. */
  def triangles(edges: DataFrame,
                srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.perNodeTriangles(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))

  /** Bounded weighted single-source shortest paths (Bellman-Ford) →
    * (node, dist): min total weight over walks of ≤ `rounds` edges from
    * `seed` — graph_sssp's exact core. Each round is one edge-sized join
    * + one nodes-sized min-agg (Pregel's shape), lineage-cut; weights
    * must be non-negative, and `rounds` ≥ the graph diameter makes the
    * bound exact SSSP. Emit both directions for an undirected graph.
    * Cache the edge frame across calls if you run several seeds. */
  def shortestPaths(edges: DataFrame, seed: String, rounds: Int = 4,
                    srcCol: String = "src", dstCol: String = "dst",
                    weightCol: String = "w"): DataFrame =
    graft.ops.GraphOps.ssspOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                   col(weightCol).as("w")),
      seed, rounds)

  /** HITS hubs & authorities over a DIRECTED edge frame → (node, a):
    * `iters` max-normalized rounds of h = Σ a(out-neighbors),
    * a = Σ h(in-neighbors) — graph_hits's exact core (authority side;
    * scores are scale-free, max-normalized to 1.0 and rounded 6dp per
    * half-round). Same economics as [[pageRank]]: cached edge frame, two
    * equi-joins + two hash-aggs per round, node-sized score frames
    * broadcast under the cap, lineage cut per round. */
  def hits(edges: DataFrame, iters: Int = 3,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.hitsOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), iters)

  /** Bounded k-core peel → (node, core_degree): `rounds` rounds of "drop
    * nodes with degree < k, restrict edges to survivors" — graph_kcore's
    * exact core. Pass a SYMMETRIC edge frame (both directions); survivor
    * sets are node-sized and broadcast into LeftSemi restrictions, so a
    * round never reshuffles the edge frame. `rounds` ≥ the peel depth
    * gives the exact k-core; a smaller cap is the bounded-latency
    * variant. */
  def kcore(edges: DataFrame, k: Int = 2, rounds: Int = 4,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.kcoreOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), k, rounds)

  /** Local clustering coefficient → (node, degree, triangles, coeff =
    * 2·tri/(deg·(deg−1)), deg ≥ 2 only) — graph_clustering_coeff's exact
    * core. Pass each undirected edge ONCE, oriented src < dst (shares
    * [[triangles]]' enumeration); triangle-less connected nodes surface
    * at coeff 0.0. */
  def clusteringCoefficient(edges: DataFrame,
                            srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.clusteringCoeffOf(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b")))

  /** Synchronous label propagation (community detection) → (node, lbl)
    * after `rounds` fixed rounds — graph_label_propagation's exact core:
    * adopt the most frequent neighbor label, ties toward the LARGEST
    * label (a deterministic total order, unlike classic LPA's random
    * tie-break). Pass a SYMMETRIC edge frame; the label frame stays
    * node-sized and broadcasts into the per-round edge join. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3,
                       srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.lpaOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), rounds)

  /** Adamic–Adar link-prediction scores over a bipartite membership frame
    * (left entity, right counterparty): left-side pairs sharing ≥
    * `minCommon` counterparties z scored Σ_z 1/ln(deg(z)) — rare shared
    * counterparties weigh more than hubs (graph_adamic_adar's exact
    * core). Returns (a, b, n_common, aa). */
  def adamicAdar(pairs: DataFrame, minCommon: Int = 2,
                 leftCol: String = "doc_a", rightCol: String = "doc_b"): DataFrame =
    graft.ops.GraphOps.adamicAdarOf(
      pairs.select(col(leftCol).as("doc_a"), col(rightCol).as("doc_b")), minCommon)

  /** Degree assortativity → one row (n_edges, assortativity, mean_deg):
    * Pearson corr of endpoint degrees — positive = hubs link to hubs,
    * negative = hub-and-spoke (graph_assortativity's exact core). Pass a
    * SYMMETRIC edge frame (both directions), like [[kcore]] /
    * [[labelPropagation]]: degrees are computed from the src side, so on
    * a one-directional frame pure-sink endpoints have no degree row and
    * their edges drop from the correlation. */
  def assortativity(edges: DataFrame,
                    srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.assortativityOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))

  /** Deterministic random walks (node2vec/DeepWalk corpus generation):
    * from each seed, a `steps`-hop walk where step t out of v picks
    * neighbor rank md5(seed:t:v) mod deg(v) — reproducible across runs,
    * engines and cluster sizes; walks truncate at dead ends
    * (graph_random_walk's exact core). Returns (seed, step, node). */
  def randomWalks(edges: DataFrame, seeds: DataFrame, steps: Int = 4,
                  srcCol: String = "src", dstCol: String = "dst",
                  seedCol: String = "seed"): DataFrame =
    graft.ops.GraphOps.randomWalkOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      seeds.select(col(seedCol).as("seed")), steps)

  /** Market-basket co-occurrence projection (graph_copurchase's exact
    * core): canonical item pairs weighted by shared-basket count,
    * min-support filtered, top-`topK` neighbors per item — generated
    * row-locally from per-basket item arrays, never a corpus self-join.
    * Returns (part_a, part_b, w, rk). */
  def coPurchase(basketItems: DataFrame, minSupport: Int = 2, topK: Int = 5,
                 basketCol: String = "basket", itemCol: String = "item"): DataFrame =
    graft.ops.GraphOps.coPurchaseOf(
      basketItems.select(col(basketCol).as("basket"), col(itemCol).as("item")),
      minSupport, topK)
  /** Newman modularity of a (node, lbl) partition over a SYMMETRIC edge
    * frame (graph_modularity's exact core) — pair it with
    * [[labelPropagation]] to score the communities it found. Returns one
    * row (n_edges_directed, n_communities, modularity). */
  def modularity(edges: DataFrame, labels: DataFrame,
                 srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.modularityOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), labels)

  /** Katz centrality, `iters`-truncated series (graph_katz's exact
    * core): x'(v) = 1 + alpha * sum of in-neighbor x, init 1 — walk
    * counts damped by length; pick alpha < 1/lambda_max. Same
    * broadcast-under-cap iteration economics as [[pagerank]]. Emit both
    * directions for undirected graphs. Returns (node, x). */
  def katz(edges: DataFrame, alpha: Double = 0.005, iters: Int = 3,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.katzOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      alpha, iters)

  /** Edge reciprocity (mutual-edge fraction) of a directed edge frame
    * (graph_reciprocity's exact core) — dedup the frame first. Returns
    * one row (n_edges, n_recip, reciprocity). */
  def reciprocity(edges: DataFrame,
                  srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    graft.ops.GraphOps.reciprocityOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))

  /** Sampled harmonic centrality (graph_harmonic's exact core): per node
    * Σ 1/d(seed, node) over a caller-supplied (seed) frame's seeds that
    * reach it within `rounds` hops — the Eppstein–Wang estimator shape,
    * where seed count (not graph size) prices the job. Multi-source BFS
    * with (seed, node) frontier state, one join + min-agg per round,
    * lineage-cut; the harmonic sum is a fixed expression over exact
    * per-distance counts, so results are identical at any parallelism.
    * Returns (node, n_reached, harmonic 4dp); seeds' d=0 self-rows are
    * excluded. Emit both edge directions for an undirected graph. */
  def harmonic(edges: DataFrame, seeds: DataFrame, rounds: Int = 4,
               srcCol: String = "src", dstCol: String = "dst",
               seedCol: String = "seed"): DataFrame =
    graft.ops.GraphOps.harmonicOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      seeds.select(col(seedCol).as("seed")), rounds)

  /** k-source sampled betweenness centrality (graph_betweenness' exact
    * core): Brandes dependency accumulation from a caller-supplied
    * source frame, hop-bounded at `maxHops` — sample size (not graph
    * size) prices the job, the Brandes–Pich scale path. Forward BFS
    * carries exact integer shortest-path counts; backward δ rounds 6dp
    * per level and the folds are sorted, so results are identical at
    * any parallelism. Returns (node, bc 4dp) over nodes reached at
    * levels 1..maxHops; source self-rows are excluded. Emit both edge
    * directions for an undirected graph. */
  def betweenness(edges: DataFrame, sources: DataFrame, maxHops: Int = 4,
                  srcCol: String = "src", dstCol: String = "dst",
                  sourceCol: String = "seed"): DataFrame =
    graft.ops.GraphOps.betweennessOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
      sources.select(col(sourceCol).as("seed")), maxHops)

}

/** Data-layout levers for write-side clustering. */
object Layout {
  /** Z-order (Morton) clustering over two numeric/date dims: each dim is
    * quantized to its 0..255 equal-width bucket over the frame's observed
    * min/max (one tiny driver agg), bit-interleaved, and the frame is
    * range-partitioned into `files` + sorted — write the result and every
    * file's parquet min/max envelope is tight on BOTH dims, so 2-dim box
    * predicates prune row groups (opt_zorder's exact core; see its note on
    * DATE-vs-TIMESTAMP stats before choosing the time column's type). */
  def zorderBy(df: DataFrame, dim1: String, dim2: String, files: Int = 8): DataFrame =
    graft.ops.OptOps.zorderByOf(df, dim1, dim2, files)
}

/** Web-corpus curation — the crawl-side half of the pipeline (WebOps). */
object Web {
  /** Canonical form of a URL column (llm_url_dedup's exact
    * canonicalization): fragment dropped, scheme://host lowercased, https
    * default port stripped, `utm*` query params removed (survivor order
    * kept). Pure codegen'd string/array expressions. */
  def canonicalUrl(url: Column): Column = graft.ops.WebOps.canonicalUrl(url)

  /** Canonical-URL dedup groups → (canon_url, n_dups, first_doc =
    * min id). One linear hash-agg shuffle on the canonical url. */
  def urlDedup(df: DataFrame, urlCol: String = "url",
               idCol: String = "doc_id"): DataFrame =
    graft.ops.WebOps.urlDedupOf(df, urlCol, idCol)

  /** Rows whose lowercased `hostCol` is NOT blocklisted — broadcast
    * anti-join (llm_domain_filter's filter half): a production blocklist
    * is millions of domains but still MBs, so it broadcasts while the
    * corpus side never shuffles. */
  def blockHosts(df: DataFrame, blocked: Seq[String],
                 hostCol: String = "host"): DataFrame =
    graft.ops.WebOps.blockHosts(df, hostCol, blocked)

  /** BM25 scores (rounded to 4 dp) per document for a bag of query terms
    * over whitespace tokens → (doc_id, score) — llm_bm25_topk's exact
    * scoring core; order by (score desc, id) and limit for top-k. */
  def bm25(docs: DataFrame, terms: Seq[String],
           k1: Double = graft.ops.WebOps.Bm25K1,
           b: Double = graft.ops.WebOps.Bm25B,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.WebOps.bm25Of(docs, idCol, textCol, terms, k1, b)

  /** Build the persisted BM25 inverted index under `path`: term-bucketed
    * posting lists (term, doc_id, tf, dl — norms denormalized so scoring
    * never joins a corpus-sized side), per-term df, and one (n, avgdl)
    * stats row. Day-1 batch job; searches then never read the corpus. */
  def buildBm25Index(docs: DataFrame, path: String,
                     idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.ops.WebOps.buildBm25Index(docs, path, idCol, textCol)

  /** BM25 scores from a [[buildBm25Index]] store — the scan reads only
    * the query terms' partition buckets (driver-computed bucket literals
    * become PartitionFilters), so per-query cost is posting-proportional,
    * not corpus-proportional. Identical scores to [[bm25]] (ApiSpec). */
  def bm25IndexSearch(spark: SparkSession, path: String, terms: Seq[String],
                      k1: Double = graft.ops.WebOps.Bm25K1,
                      b: Double = graft.ops.WebOps.Bm25B): DataFrame =
    graft.ops.WebOps.bm25IndexSearch(spark, path, terms, k1, b)

  /** Write one incremental index batch under `path` as `posting<part>` +
    * `stats<part>` — O(batch) work, no re-read of prior batches and no
    * frozen df/avgdl to restate (both are re-derived at search time).
    *
    * PRECONDITION (ADVICE r11): batches must PARTITION the doc-id space —
    * the same doc appearing in two batches double-counts in the re-derived
    * df/N and keeps its stale postings alongside the new ones, skewing
    * scores. Re-ingesting an updated doc means REWRITING its original
    * batch part (same `part` name, overwrite), which is also what keeps
    * crash-replay idempotent (the stream_index_sink discipline) — not
    * appending it as a fresh batch. */
  def appendBm25Batch(docs: DataFrame, path: String, part: String,
                      idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.ops.WebOps.buildBm25Delta(docs, path, part, idCol, textCol)

  /** Search a set of [[appendBm25Batch]] batches — bit-for-bit identical
    * to a single-batch rebuild over the union (integer-exact stat
    * merges; WebGraphSpec pins the identity). The identity — and score
    * correctness generally — assumes the batches partition the doc-id
    * space (see [[appendBm25Batch]]'s precondition). */
  def bm25IncrementalSearch(spark: SparkSession, path: String,
                            parts: Seq[String], terms: Seq[String],
                            k1: Double = graft.ops.WebOps.Bm25K1,
                            b: Double = graft.ops.WebOps.Bm25B): DataFrame =
    graft.ops.WebOps.bm25IncSearch(spark, path, parts, terms, k1, b)

  /** Compact an incremental index's batch parts into one part named
    * `outPart`, deleting the originals — the maintenance pass a
    * stream-appended index eventually needs. Pure layout work: search
    * before ≡ search after (llm_index_compact's exact core). */
  def compactBm25Index(spark: SparkSession, path: String,
                       outPart: String = "c"): Unit =
    graft.ops.WebOps.compactIndex(spark, path, outPart)

  /** Build the POSITIONAL index under `path`: per-(term, doc) sorted token
    * offsets, term-bucketed — the artifact [[phraseSearch]] reads. */
  def buildPositionalIndex(docs: DataFrame, path: String,
                           idCol: String = "doc_id", textCol: String = "text"): Unit =
    graft.ops.WebOps.buildPositionalIndex(docs, path, idCol, textCol)

  /** Exact phrase occurrences per doc from a [[buildPositionalIndex]]
    * store → (doc_id, occurrences > 0): shifted-offset-set intersection,
    * overlapping matches counted, text never re-read. */
  def phraseSearch(spark: SparkSession, path: String,
                   phrase: Seq[String]): DataFrame =
    graft.ops.WebOps.phraseSearch(spark, path, phrase)

  /** Ordered proximity from a [[buildPositionalIndex]] store → (doc_id,
    * pairs > 0): occurrences of `b` within `slop` tokens AFTER `a` —
    * Lucene's sloppy-phrase primitive (slop 1 = the exact 2-term
    * phrase); llm_proximity_search's exact core. */
  def proximitySearch(spark: SparkSession, path: String, a: String, b: String,
                      slop: Int = graft.ops.WebOps.ProximitySlop): DataFrame =
    graft.ops.WebOps.proximitySearch(spark, path, a, b, slop)

  /** (doc_id, snippet) around the FIRST occurrence of the 2-term phrase,
    * `ctx` tokens of context each side — the display/RAG primitive after
    * retrieval; run it on the hit set phraseSearch narrowed, not the
    * corpus. Zero shuffle (llm_snippet_extract's exact core). */
  def snippets(docs: DataFrame, a: String, b: String,
               ctx: Int = graft.ops.WebOps.SnippetContext,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.WebOps.snippetOf(docs, idCol, textCol, a, b, ctx)

  /** Top co-occurring terms with `anchor` by document-level PMI over
    * presence counts → (term, pmi, cooc) — query expansion / collocation
    * mining (llm_pmi_terms's exact core). `minCooc` is the noise floor
    * keeping rare-pair PMI spikes out of the top-k. */
  def pmiTerms(docs: DataFrame, anchor: String,
               minCooc: Long = graft.ops.WebOps.PmiMinCooc,
               topK: Int = graft.ops.WebOps.PmiTopK,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.WebOps.pmiTerms(docs, idCol, textCol, anchor, minCooc, topK)

  /** Reciprocal-rank fusion of any number of retriever nomination lists —
    * each input frame is (idCol, rankCol) with rank 1-based — into
    * (idCol, rrf, n_lists), rrf = Σ 1/(k + rank) rounded to 6dp
    * (llm_hybrid_rrf's fusion, generalized; k = 60 per Cormack et al.
    * 2009). Rank-only fusion needs no score calibration between
    * retrievers, which is why it survives at scale where per-shard score
    * normalization drifts. Union + one bounded groupBy — linear in total
    * nominations; feed it ALREADY-CUT top-k lists, not whole corpora. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String = "doc_id",
              rankCol: String = "rank", k: Int = 60): DataFrame =
    graft.ops.WebOps.rrfFuseOf(lists, idCol, rankCol, k)
}
