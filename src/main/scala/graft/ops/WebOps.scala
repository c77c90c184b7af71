package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-corpus curation operators — the crawl-side half of an LLM data
  * pipeline (the LlmOps family assumes documents already selected; this
  * module is how they got selected): URL component extraction, URL
  * canonicalization + dedup, domain-blocklist filtering, and BM25
  * retrieval over the corpus.
  *
  * The testdata documents table carries no URL column, so every key here
  * derives a deterministic synthetic `url` from (source, lang, doc_id) via
  * [[urls]] — mixed-case hosts, default ports, utm tracking params and
  * fragments included ON PURPOSE so canonicalization has real work to do.
  * The oracle SQL mirrors the same derivation in a CTE; the operators
  * themselves read only the `url` STRING (no peeking at the components
  * that built it), exactly as they would on a real crawl table.
  *
  * Scale notes (100 TB):
  *  - URL parsing/normalization is pure per-row string work — codegen'd
  *    `regexp_*`/higher-order-array expressions, no shuffle, no UDF;
  *  - url-dedup's one shuffle is the groupBy on the canonical url (the
  *    same linear hash-agg shape as llm_exact_dedup);
  *  - the domain blocklist joins as a BROADCAST anti-join: a real
  *    blocklist is millions of domains — still MBs, broadcastable — while
  *    the corpus side never shuffles (a `NOT IN` literal list, the naive
  *    spelling, would not scale past a few hundred entries);
  *  - BM25's per-term statistics (df, N, avgdl) are tiny aggregates that
  *    broadcast back into the per-doc scoring join; the only corpus-sized
  *    shuffle is the (doc, term) tf aggregation, pre-filtered to the query
  *    terms so the explode never materializes non-query tokens past the
  *    filter (predicate sits directly on the generator output).
  */
object WebOps {
  type Q = (SparkSession, String) => DataFrame

  /** BM25 parameters + query terms of the contract key — shared with the
    * oracle SQL and the OperatorSpec bounds test. */
  private[graft] val Bm25K1 = 1.2
  private[graft] val Bm25B = 0.75
  private[graft] val Bm25Terms = Seq("hash", "vector", "stream")
  private[graft] val Bm25TopK = 20

  /** RRF constant + per-retriever candidate depth of llm_hybrid_rrf —
    * k=60 is the value from the original RRF paper (Cormack et al. 2009),
    * shared with the oracle SQL. */
  private[graft] val RrfK = 60
  private[graft] val RrfDepth = 50

  /** llm_ndcg_eval cutoff — shared with the oracle. */
  private[graft] val NdcgK = 10

  /** Blocked hosts of llm_domain_filter (lowercase canonical form). */
  private[graft] val BlockedHosts =
    Seq("src3.example.com", "src7.example.com", "src11.example.com", "src15.example.com")

  /** Deterministic synthetic crawl URL per document: mixed-case host every
    * 3rd doc, explicit default `:443` every 4th, utm tracking params every
    * 2nd, `#top` fragment every 5th. Path + id param depend only on
    * (lang, doc_id mod 10, doc_id mod 5), so distinct doc_ids DO collapse
    * to one canonical URL — url-dedup finds real duplicate groups, not
    * just spelling variants of singletons. */
  private[graft] def urls(s: SparkSession, d: String): DataFrame = {
    val host = concat(col("source"), lit(".example.com"))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"), col("n_chars"),
      concat(
        lit("https://"),
        when(col("doc_id") % 3 === 0, upper(host)).otherwise(host),
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/doc"), (col("doc_id") % 10).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed&utm_campaign=w1&id="))
          .otherwise(lit("?id=")),
        (col("doc_id") % 5).cast("string"),
        when(col("doc_id") % 5 === 0, lit("#top")).otherwise(lit(""))
      ).as("url"))
  }

  /** The oracle-side mirror of [[urls]] as a DuckDB CTE body. */
  private val UrlCte = """
    SELECT doc_id, lang, n_chars,
           'https://'
           || CASE WHEN doc_id % 3 = 0 THEN upper(source || '.example.com')
                   ELSE source || '.example.com' END
           || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
           || '/' || lang || '/doc' || CAST(doc_id % 10 AS VARCHAR)
           || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=w1&id='
                   ELSE '?id=' END
           || CAST(doc_id % 5 AS VARCHAR)
           || CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END AS url
    FROM documents"""

  /** Canonical URL from the raw url STRING only (never from the components
    * that built it): drop the fragment, lowercase the scheme://host[:port]
    * prefix and strip the scheme's default port (443 for https, 80 for
    * http), keep the path verbatim (possibly empty), and drop `utm_*`
    * tracking params from the query string (preserving the order of the
    * survivors; the underscore matters — a param merely STARTING with
    * 'utm', e.g. 'utmost=1', is not a tracking param and survives —
    * ADVICE r11). Any scheme parses; a string with NO scheme://host shape
    * falls back to fragment-stripping only (identity is safer than
    * collapsing unparseable rows into one '' group). All codegen'd
    * string/array expressions. */
  private[graft] def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val SchemeHost = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*"
    val rawPrefix = lower(regexp_extract(noFrag, SchemeHost, 0))
    val prefix =
      when(startswith(rawPrefix, lit("https://")),
           regexp_replace(rawPrefix, ":443$", ""))
        .when(startswith(rawPrefix, lit("http://")),
              regexp_replace(rawPrefix, ":80$", ""))
        .otherwise(rawPrefix)
    val path = regexp_extract(noFrag, s"$SchemeHost([^?]*)", 1)
    val kept = array_join(
      filter(split(regexp_extract(noFrag, "\\?(.*)$", 1), "&"),
             p => !startswith(p, lit("utm_"))), "&")
    when(rawPrefix === "", noFrag)
      .otherwise(concat(prefix, path,
        when(kept === "", lit("")).otherwise(concat(lit("?"), kept))))
  }

  /** (canon_url, n_dups, first_doc) groups over any (url, id) frame — the
    * canonicalize-then-dedup core behind llm_url_dedup and the Web facade. */
  private[graft] def urlDedupOf(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.select(canonicalUrl(col(urlCol)).as("canon_url"), col(idCol))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_dups"), min(idCol).as("first_doc"))

  /** Rows whose lowercased `hostCol` is NOT in `blocked` — broadcast
    * anti-join (the scale spelling of NOT IN; see class doc). */
  private[graft] def blockHosts(df: DataFrame, hostCol: String,
                                blocked: Seq[String]): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    // internal join-column name prefixed so an input frame that happens to
    // carry a same-named column cannot make the condition ambiguous
    df.join(broadcast(blocked.toDF("__graft_blocked_host")),
            lower(col(hostCol)) === col("__graft_blocked_host"), "left_anti")
  }

  /** The BM25 per-(doc, term) contribution over columns
    * (tf, df, dl, n, avgdl) — ONE formula shared by the scan-side scorer
    * [[bm25Of]] and the index-side searcher [[bm25IndexSearch]], so the
    * two paths cannot drift. */
  private def bm25ScoreExpr(k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    idf * norm
  }

  /** (id, score) BM25 scores over whitespace-tokenized `textCol` for the
    * given query terms — df/N/avgdl broadcast, one (doc, term) tf shuffle
    * pre-filtered to the terms. Shared by llm_bm25_topk and Web.bm25. */
  private[graft] def bm25Of(docs: DataFrame, idCol: String, textCol: String,
                            terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
    val dl = base.select(col("doc_id"), size(col("ws")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), avg("dl").as("avgdl"))
    val tf = base
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfr), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25ScoreExpr(k1, b).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 4).as("score"))
  }

  /** Generic reciprocal-rank fusion core (Web.rrfFuse): each input frame
    * is an (id, rank) nomination list from one retriever; every
    * nomination contributes 1/(k + rank) and the per-id sum is the fused
    * score (6dp). Union + one bounded groupBy — linear in total
    * nominations, any number of lists, no pairwise joins. The contract
    * key llm_hybrid_rrf keeps its bespoke two-list full-outer shape
    * because it also surfaces the per-retriever ranks; ApiSpec pins this
    * core's scores ≡ the key's on the same inputs. */
  private[graft] def rrfFuseOf(lists: Seq[DataFrame], idCol: String,
                               rankCol: String, k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    lists.map(df => df.select(col(idCol).as("__id"),
        (lit(1.0) / (lit(k) + col(rankCol))).as("__contrib")))
      .reduce(_ unionByName _)
      .groupBy("__id")
      .agg(round(sum("__contrib"), 6).as("rrf"), count(lit(1)).as("n_lists"))
      .withColumnRenamed("__id", idCol)
  }

  /** Term-bucket count of the inverted index's posting layout. 16 is
    * plenty for the test corpus; a 100 TB index would use thousands —
    * the pruning economics are bucket-count-linear either way. */
  private[graft] val IndexBuckets = 16

  /** Deterministic term → partition bucket, computable on BOTH sides of
    * the plan: driver-side (to turn a query's terms into partition-filter
    * LITERALS before the scan is planned) and executor-side (to assign
    * postings at build time). First md5 byte mod [[IndexBuckets]]. */
  private[graft] def bucketOfTerm(term: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (d(0) & 0xff) % IndexBuckets
  }
  private def bucketCol(term: Column): Column =
    pmod(conv(substring(md5(term), 1, 2), 16, 10).cast("int"), lit(IndexBuckets))

  /** Build the persisted BM25 inverted index under `dir`:
    *  - `posting/` — (term, doc_id, tf, dl), denormalized with the doc
    *    length (Lucene stores norms alongside postings for the same
    *    reason: scoring must not join a corpus-sized side), written
    *    `partitionBy(tb)` so a query's terms prune to their buckets;
    *  - `df/` — (term, df), the per-term document frequencies;
    *  - `stats/` — one (n, avgdl) row.
    * Index builds are day-1 batch jobs; searches are the recurring work. */
  private[graft] def buildBm25Index(docs: DataFrame, dir: String,
                                    idCol: String, textCol: String): Unit = {
    val base = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
    // cached: dl feeds the posting join AND the stats write; without the
    // cache the corpus would tokenize once per consumer (3× the most
    // expensive pass of a day-1 index build)
    val dl = base.select(col("doc_id"), size(col("ws")).as("dl")).cache()
    graft.GraftCaches.track(dl)
    posting(base, dl).write.mode("overwrite").partitionBy("tb").parquet(s"$dir/posting")
    // df re-derives from the postings just WRITTEN — a term-bucketed read
    // of (term, doc) pairs, not a third corpus tokenization
    docs.sparkSession.read.parquet(s"$dir/posting")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$dir/df")
    dl.agg(count(lit(1)).as("n"), avg("dl").as("avgdl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** (term, doc_id, tf, dl, tb) posting rows — shared by the one-shot and
    * incremental index builders. */
  private def posting(base: DataFrame, dl: DataFrame): DataFrame =
    base.select(col("doc_id"), explode(col("ws")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .withColumn("tb", bucketCol(col("term")))

  /** Search the persisted index: the scan touches ONLY the query terms'
    * partition buckets (driver-computed [[bucketOfTerm]] literals become
    * PartitionFilters — the documents table is never read), then the same
    * [[bm25ScoreExpr]] as the scan-side key. At 100 TB this is the whole
    * point of an index: per-query work is proportional to the matched
    * postings, not the corpus. */
  private[graft] def bm25IndexSearch(s: SparkSession, dir: String,
                                     terms: Seq[String],
                                     k1: Double, b: Double): DataFrame = {
    val buckets = terms.map(bucketOfTerm).distinct
    val posting = s.read.parquet(s"$dir/posting")
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val dfr = s.read.parquet(s"$dir/df").filter(col("term").isin(terms: _*))
    val stats = s.read.parquet(s"$dir/stats")
    posting.join(broadcast(dfr), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25ScoreExpr(k1, b).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 4).as("score"))
  }

  /** Per-(JVM, sfDir) persisted index at a deterministic path (the
    * StoreDir.fixed contract: OS-file-lock build exclusivity, staging +
    * atomic rename, survives the JVM for post-hoc audits). */
  private val bm25IdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private[graft] def bm25IndexPath(s: SparkSession, d: String): String =
    graft.StoreDir.fixed(bm25IdxCache,
        graft.StoreDir.fixedPath("graft-bm25idx", d)) { dir =>
      buildBm25Index(Tables.documentsWide(s, d), dir, "doc_id", "text")
    }

  /** One BATCH of the incremental index under `dir/posting<part>` +
    * `dir/stats<part>`: term-bucketed postings for `docs` only (O(batch)
    * work — no re-read of prior batches) and the batch's (n, sum_dl)
    * moments. Unlike [[buildBm25Index]], NO df/avgdl are frozen into the
    * store: df is re-derived at search time from the PRUNED postings
    * (posting-proportional, exact over any batch set) and avgdl from the
    * summed moments — so an append needs no restatement of day-1
    * artifacts and search over [batch1, batch2] is IDENTICAL to a
    * single-batch rebuild (WebGraphSpec pins it bit-for-bit). */
  private[graft] def buildBm25Delta(docs: DataFrame, dir: String, part: String,
                                    idCol: String, textCol: String): Unit = {
    val base = docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
    // cached for the same reason as buildBm25Index's dl (two consumers)
    val dl = base.select(col("doc_id"), size(col("ws")).as("dl")).cache()
    graft.GraftCaches.track(dl)
    posting(base, dl)
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/posting$part")
    // ndl = docs with a NON-NULL dl: avgdl must merge as sum(sdl)/sum(ndl)
    // — dividing by the ALL-docs count n would silently deflate avgdl on
    // any corpus with null-text docs (avg() skips nulls; the moment merge
    // must skip the same rows). n itself stays the all-docs count the idf
    // uses.
    dl.agg(count(lit(1)).as("n"), sum("dl").as("sdl"),
           count(col("dl")).as("ndl"))
      .write.mode("overwrite").parquet(s"$dir/stats$part")
  }

  /** Search a set of incremental batches: postings of ALL named parts are
    * scanned (each pruned to the query terms' buckets), df comes from the
    * pruned postings themselves, (n, avgdl) from the summed batch
    * moments — integer-exact merges, so batch count cannot perturb
    * scores. */
  private[graft] def bm25IncSearch(s: SparkSession, dir: String,
                                   parts: Seq[String], terms: Seq[String],
                                   k1: Double, b: Double): DataFrame = {
    require(parts.nonEmpty, "need at least one index batch to search")
    val buckets = terms.map(bucketOfTerm).distinct
    // one partitioned root per batch (each with its own tb= layout), so
    // the batches load separately — each scan still partition-prunes to
    // the query buckets — and union; a single multi-root read would trip
    // partition-structure inference (CONFLICTING_DIRECTORY_STRUCTURES)
    val posting = parts.map { p =>
      s.read.parquet(s"$dir/posting$p")
        .filter(col("tb").isin(buckets: _*))
        .filter(col("term").isin(terms: _*))
    }.reduce(_ unionByName _)
    val dfr = posting.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = s.read.parquet(parts.map(p => s"$dir/stats$p"): _*)
      .agg(sum("n").as("n"), (sum("sdl") / sum("ndl")).as("avgdl"))
    posting.join(broadcast(dfr), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25ScoreExpr(k1, b).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 4).as("score"))
  }

  /** The contract phrase of llm_phrase_search (present at every SF). */
  private[graft] val PhraseTerms = Seq("hash", "join")

  /** Build the POSITIONAL index under `dir/posting`: (term, doc_id,
    * positions) with the term's sorted 0-based token offsets per doc,
    * term-bucketed like [[buildBm25Index]]. Positions are what turn an
    * inverted index into a phrase/proximity index — adjacency is decided
    * from the stored offsets alone, never by re-reading text. Posting
    * size is corpus-token-bounded (each token contributes one array
    * slot), the same budget as the BM25 postings. */
  private[graft] def buildPositionalIndex(docs: DataFrame, dir: String,
                                          idCol: String, textCol: String): Unit =
    docs.select(col(idCol).as("doc_id"),
                posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      // collect_list order is partition-dependent — sort for a
      // deterministic stored artifact (and exact store equality in specs)
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tb", bucketCol(col("term")))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$dir/posting")

  /** Exact phrase occurrences per doc → (doc_id, occurrences > 0): slot i
    * of the phrase shifts its positions by -i, so an occurrence at start
    * q means q survives the intersection of all shifted sets — k-1
    * codegen'd array_intersect ops after a doc_id-keyed join of k
    * one-row-per-doc posting frames (no position explosion, no text
    * re-scan; the scan prunes to the phrase terms' buckets). Overlapping
    * occurrences count individually — the token-adjacency definition,
    * which substring-replace counting would get wrong. */
  private[graft] def phraseSearch(s: SparkSession, dir: String,
                                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val buckets = phrase.map(bucketOfTerm).distinct
    val posting = s.read.parquet(s"$dir/posting")
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(phrase.distinct: _*))
    val frames = phrase.zipWithIndex.map { case (t, i) =>
      posting.filter(col("term") === t)
        .select(col("doc_id"),
                transform(col("positions"), p => p - i).as(s"p$i"))
    }
    val joined = frames.reduce((a, b) => a.join(b, "doc_id"))
    val starts = (1 until phrase.length)
      .foldLeft(col("p0")) { (acc, i) => array_intersect(acc, col(s"p$i")) }
    joined.select(col("doc_id"), size(starts).cast("long").as("occurrences"))
      .filter(col("occurrences") > 0)
  }

  /** Proximity slop of the llm_proximity_search contract key. */
  private[graft] val ProximitySlop = 5

  /** Ordered proximity pairs from the positional index: per doc, the
    * number of (a-position, b-position) pairs with 0 < pb − pa ≤ slop —
    * "b follows a within k tokens", Lucene's sloppy-phrase primitive
    * (slop 1 degenerates to the exact 2-term phrase). Same pruned-scan +
    * doc-keyed join shape as [[phraseSearch]]; the pair count is one
    * nested higher-order aggregate over the two offset arrays — no
    * position explosion. */
  private[graft] def proximitySearch(s: SparkSession, dir: String,
                                     a: String, b: String, slop: Int): DataFrame = {
    require(slop >= 1, "slop must be >= 1")
    val buckets = Seq(a, b).map(bucketOfTerm).distinct
    val posting = s.read.parquet(s"$dir/posting")
      .filter(col("tb").isin(buckets: _*))
    val fa = posting.filter(col("term") === a).select(col("doc_id"), col("positions").as("pa"))
    val fb = posting.filter(col("term") === b).select(col("doc_id"), col("positions").as("pb"))
    fa.join(fb, "doc_id")
      .select(col("doc_id"),
        aggregate(col("pa"), lit(0L),
          (acc, x) => acc + size(filter(col("pb"),
            y => y > x && y - x <= slop)).cast("long")).as("pairs"))
      .filter(col("pairs") > 0)
  }

  /** PMI key parameters: anchor term, noise floor, output size. */
  private[graft] val PmiAnchor = "hash"
  private[graft] val PmiMinCooc = 5L
  private[graft] val PmiTopK = 20

  /** Top co-occurring terms with `anchor` by document-level pointwise
    * mutual information: pmi(a,b) = ln(N·c_ab / (c_a·c_b)) over PRESENCE
    * counts (docs containing the term) — the query-expansion /
    * collocation-mining primitive. One corpus shuffle (the distinct
    * (doc, term) presence pairs, doc_id-PINNED and cached), then a single
    * vocab-sized aggregation computes c_b and c_ab TOGETHER off an
    * anchor-flag left join (the anchor posting is NOT force-broadcast —
    * for a stopword-grade anchor it is corpus-sized; AQE sizes it). The
    * r21 fold: the naive four-consumer spelling (separate c_b, c_ab, c_a,
    * N aggregations) paid 6 exchanges and aggregated c_b twice; folding
    * c_ab into c_b's pass and c_a into N's pass is count-identical —
    * pairs are distinct, so count(term = anchor) = c_a, and the inner
    * anchor join ⟺ the flag being non-null (anchor doc_ids are unique
    * within the distinct pair frame, so the left join has multiplicity
    * 1 and invents no rows; NULL doc_ids match nothing in BOTH
    * spellings). Terms only in non-anchor docs have cooc = 0 and anchor
    * itself is excluded explicitly — max(minCooc, 1) reproduces the old
    * inner join's cooc ≥ 1 floor exactly. The doc_id pin (array_distinct
    * dedups within the row BEFORE the exchange; the cross-row
    * dropDuplicates keeps the old NULL/duplicate-id merge semantics)
    * lets the N-distinct pass and the flag join run exchange-free. The
    * noise floor (c_ab ≥ minCooc) keeps rare-pair PMI spikes out of the
    * top-k. */
  private[graft] def pmiTerms(docs: DataFrame, idCol: String, textCol: String,
                              anchor: String, minCooc: Long, topK: Int): DataFrame = {
    val p = docs
      .select(col(idCol).as("doc_id"),
              explode(array_distinct(split(col(textCol), " "))).as("term"))
      .repartition(col("doc_id"))
      .dropDuplicates("doc_id", "term")
      .cache()
    graft.GraftCaches.track(p)
    // N and c_a in ONE corpus pass: pairs are distinct, so the rows with
    // term = anchor are exactly the docs containing the anchor.
    val scalars = p.agg(countDistinct("doc_id").as("n"),
                        count(when(col("term") === anchor, 1)).as("ca"))
    val anchors = p.filter(col("term") === anchor)
      .select(col("doc_id"), lit(1).as("amark"))
    p.join(anchors, Seq("doc_id"), "left")
      .groupBy("term")
      .agg(count(lit(1)).as("cb"),
           count(when(col("amark").isNotNull && col("term") =!= anchor, 1))
             .as("cooc"))
      .filter(col("term") =!= anchor && col("cooc") >= math.max(minCooc, 1L))
      .crossJoin(broadcast(scalars))
      .select(col("term"),
              round(log(col("cooc") * col("n") / (col("ca") * col("cb"))), 4).as("pmi"),
              col("cooc"))
      .orderBy(col("pmi").desc, col("term")).limit(topK)
  }

  /** Snippet context window (tokens on each side of the match). */
  private[graft] val SnippetContext = 3

  /** (doc_id, snippet) for docs containing the 2-term phrase: the tokens
    * around the FIRST occurrence, `ctx` on each side — the display/RAG
    * primitive after retrieval. Pure per-row array expressions (find the
    * first adjacency index with a higher-order filter over an index
    * sequence, slice, re-join): zero shuffle, zero UDF; composes after
    * [[phraseSearch]] has already narrowed WHICH docs to snippet, so the
    * text scan runs on the hit set, not the corpus.
    *
    * Linear per row, one split: a document can only match if its text
    * contains "a b", so that substring test runs first (it reaches the
    * scan as a pushed filter) and only its survivors are split. The word
    * array is projected once and the lambda indexes that column. The
    * first match comes out of an `explode` of the matches' first element,
    * which yields no row for a document without one: a `size(starts) > 0`
    * Filter would be pushed below the projections and evaluate the whole
    * match expression (and the split, once per `element_at`) again. */
  private[graft] def snippetOf(docs: DataFrame, idCol: String, textCol: String,
                               a: String, b: String, ctx: Int): DataFrame = {
    val ws = col("ws")
    // 1-based index i of each token pair (ws[i], ws[i+1]) == (a, b).
    // The size >= 2 guard matters: sequence(1, 0) DESCENDS to [1, 0] and
    // the lambda would evaluate element_at(ws, 0) — a hard error — on any
    // single-token doc (same guard idiom as llm_ngram's bigram builder).
    val starts = when(size(ws) >= 2,
      filter(sequence(lit(1), size(ws) - 1),
        i => element_at(ws, i) === a && element_at(ws, i + 1) === b))
      .otherwise(array().cast("array<int>"))
    val first = col("first")
    // window = ctx + 2-token phrase + ctx, clipped at the left edge so the
    // slice never starts before token 1
    val from = greatest(lit(1), first - ctx)
    docs.filter(col(textCol).contains(s"$a $b"))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .select(col("doc_id"), ws, explode(slice(starts, 1, 1)).as("first"))
      .select(col("doc_id"),
        array_join(slice(ws, from, first + 1 + ctx - from + 1), " ").as("snippet"))
  }

  /** Per-(JVM, sfDir) positional index store (StoreDir.fixed contract). */
  private val posIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private[graft] def posIndexPath(s: SparkSession, d: String): String =
    graft.StoreDir.fixed(posIdxCache,
        graft.StoreDir.fixedPath("graft-posidx", d)) { dir =>
      buildPositionalIndex(Tables.documentsWide(s, d), dir, "doc_id", "text")
    }

  /** Chunk count of the streamed-index replay (3 micro-batches). */
  private[graft] val IndexStreamChunks = 3

  /** The batch parts present under an incremental index store dir —
    * enumerated from the store itself, so search stays correct however
    * the ingest stream happened to batch the corpus.
    *
    * LOCAL-FILESYSTEM store paths only (ADVICE r11): part enumeration and
    * compaction's delete/rename use java.io/java.nio, which on an
    * s3://-or-hdfs:// store path would report "no parts" despite data
    * being present. The index DATA path (Spark read/write) is
    * FS-agnostic; porting the incremental/compaction MAINTENANCE to a
    * remote store means routing these three operations (list, delete,
    * rename) through Hadoop's FileSystem for the path — an isolated,
    * mechanical swap kept out of scope while every store in this harness
    * is /tmp-local. */
  private[graft] def indexParts(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("posting")).map(_.stripPrefix("posting")).sorted.toSeq

  /** STREAMED index maintenance — the production crawl→index pipeline:
    * documents replayed as a file-stream (one chunk per micro-batch),
    * each micro-batch appended to the store via [[buildBm25Delta]] inside
    * foreachBatch. Exactly-once economics: a batch writes ONLY its own
    * `posting<batchId>`/`stats<batchId>` in overwrite mode, so a replayed
    * batch (crash between sink write and commit-log write) overwrites its
    * own output and converges — the same idempotency discipline as the
    * JDBC stream sink's keyed upsert, applied to index artifacts. Search
    * over the accumulated parts equals the batch-built index exactly
    * (df/avgdl re-derive from the merged postings — nothing restated,
    * nothing order-dependent). */
  private val streamIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private[graft] def streamIndexPath(s: SparkSession, d: String): String =
    graft.StoreDir.fixed(streamIdxCache,
        graft.StoreDir.fixedPath("graft-bm25stream", d)) { dir =>
      val docs = Tables.documents(s, d)
      // stage the corpus as one-file chunks — the replay source. All temp
      // dirs come from ScanOps.tmpDir (recursive shutdown reaper): the
      // stage holds a full corpus copy and would otherwise outlive the
      // JVM until the OS reaper ran.
      val stage = new java.io.File(graft.ops.ScanOps.tmpDir("graft-docstage-"))
      for (i <- 0 until IndexStreamChunks) {
        val tmp = new java.io.File(graft.ops.ScanOps.tmpDir("graft-docchunk-"))
        docs.filter(pmod(col("doc_id"), lit(IndexStreamChunks)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(stage, f"c$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 60000L)
      }
      val ckpt = graft.ops.ScanOps.tmpDir("graft-idxckpt-")
      val q = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage.getAbsolutePath)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         id: Long) =>
          buildBm25Delta(batch.toDF(), dir, id.toString, "doc_id", "text")
        }
        .start()
      q.awaitTermination()
    }

  /** Compact an incremental index's accumulated parts into ONE batch —
    * the maintenance pass a stream-appended index eventually needs (the
    * sink_compaction discipline applied to index artifacts): N tiny
    * posting parts mean N scans + a union per query and N footer reads;
    * compaction unions them ONCE, rewrites the result as a single
    * term-bucketed part `posting<outPart>` + integer-exact merged
    * `stats<outPart>`, then deletes the originals. Pure layout work:
    * postings move, content doesn't — search before ≡ search after
    * (df/avgdl re-derive from the same merged rows either way). */
  private[graft] def compactIndex(s: SparkSession, dir: String,
                                  outPart: String): Unit = {
    // ALL live parts compact — including a prior compaction's outPart
    // (excluding it would silently destroy it when outPart is rewritten:
    // the repeated-default-compaction footgun). Spark cannot overwrite a
    // path it is lazily reading, so the union lands in DOT-PREFIXED
    // staging dirs (invisible to indexParts), the originals are deleted,
    // and staging renames into place: no torn part, no double-count
    // window. Like any file-level compaction (sink_compaction), run it
    // without concurrent searchers — a search between delete and rename
    // can briefly see a reduced part set (never an inflated one).
    def rmTree(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    val stagingP = s"$dir/.compact-posting"
    val stagingS = s"$dir/.compact-stats"
    def finishFromStaging(): Unit = {
      indexParts(dir).foreach { p =>
        rmTree(java.nio.file.Paths.get(s"$dir/posting$p"))
        rmTree(java.nio.file.Paths.get(s"$dir/stats$p"))
      }
      java.nio.file.Files.move(java.nio.file.Paths.get(stagingP),
        java.nio.file.Paths.get(s"$dir/posting$outPart"))
      java.nio.file.Files.move(java.nio.file.Paths.get(stagingS),
        java.nio.file.Paths.get(s"$dir/stats$outPart"))
    }
    // Crash recovery (ADVICE r11): a compaction that died between staging
    // write and final rename leaves .compact-* dirs that indexParts cannot
    // see — previously a re-run could find ZERO visible parts and fail its
    // nonEmpty require instead of recovering. On entry: COMPLETE staging
    // (_SUCCESS in both dirs) already holds the full union of the parts
    // live at staging time, and any parts still visible are a subset of
    // those — so finishing (delete survivors, rename staging in) yields
    // exactly the crashed run's result at every crash point, mid-delete
    // included. INCOMPLETE staging means the deletes never started
    // (originals intact) — discard it and compact normally.
    def staged(p: String) = new java.io.File(p, "_SUCCESS").exists()
    if (new java.io.File(stagingP).exists() || new java.io.File(stagingS).exists()) {
      if (staged(stagingP) && staged(stagingS)) { finishFromStaging(); return }
      rmTree(java.nio.file.Paths.get(stagingP))
      rmTree(java.nio.file.Paths.get(stagingS))
    }
    val parts = indexParts(dir)
    require(parts.nonEmpty, s"no index parts to compact under $dir")
    parts.map(p => s.read.parquet(s"$dir/posting$p")).reduce(_ unionByName _)
      .write.mode("overwrite").partitionBy("tb").parquet(stagingP)
    parts.map(p => s.read.parquet(s"$dir/stats$p")).reduce(_ unionByName _)
      .agg(sum("n").as("n"), sum("sdl").as("sdl"), sum("ndl").as("ndl"))
      .write.mode("overwrite").parquet(stagingS)
    finishFromStaging()
  }

  /** Two-batch store compacted to one part at build time — the contract
    * key's fixture (own store: compaction MUTATES parts, and the
    * incremental/stream keys must keep theirs). */
  private val cmpIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private[graft] def compactIndexPath(s: SparkSession, d: String): String =
    graft.StoreDir.fixed(cmpIdxCache,
        graft.StoreDir.fixedPath("graft-bm25cmp", d)) { dir =>
      val docs = Tables.documentsWide(s, d)
      buildBm25Delta(docs.filter(col("doc_id") % 4 =!= 0), dir, "1", "doc_id", "text")
      buildBm25Delta(docs.filter(col("doc_id") % 4 === 0), dir, "2", "doc_id", "text")
      compactIndex(s, dir, "c")
    }

  /** Day-1/day-2 incremental index store: batch 1 = doc_id % 4 != 0,
    * batch 2 = the % 4 == 0 delta appended with NO re-read of batch 1 —
    * the same split and append discipline as llm_ann_incremental. */
  private val bm25IncCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private[graft] def bm25IncPath(s: SparkSession, d: String): String =
    graft.StoreDir.fixed(bm25IncCache,
        graft.StoreDir.fixedPath("graft-bm25inc", d)) { dir =>
      val docs = Tables.documentsWide(s, d)
      buildBm25Delta(docs.filter(col("doc_id") % 4 =!= 0), dir, "1", "doc_id", "text")
      buildBm25Delta(docs.filter(col("doc_id") % 4 === 0), dir, "2", "doc_id", "text")
    }

  val queries: Map[String, Q] = graft.Contract.uniqueMap("WebOps.queries", Seq(
    // URL component extraction via the native parse_url expression (HOST
    // excludes the port, REF = fragment, the 3-arg form plucks one query
    // param) — per-row codegen'd work, no shuffle. NULL components (no
    // fragment) are coalesced to '' on both sides so the gate compares
    // values, not the engines' no-match conventions.
    "fn_url_parse" -> ((s, d) => {
      urls(s, d).select(
        col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        coalesce(parse_url(col("url"), lit("QUERY")), lit("")).as("query"),
        coalesce(parse_url(col("url"), lit("REF")), lit("")).as("frag"),
        coalesce(parse_url(col("url"), lit("QUERY"), lit("id")), lit("")).as("id_param")
      ).orderBy("doc_id")
    }),

    // Canonicalize-then-dedup — the first pass of every crawl pipeline
    // (casing/port/tracking-param/fragment variants of one resource must
    // collapse BEFORE content dedup ever sees them; exact text dedup
    // cannot catch re-crawls whose boilerplate differs). One linear
    // hash-agg shuffle on the canonical url; representative = min doc_id
    // (the deterministic keep-first rule llm_exact_dedup also uses).
    "llm_url_dedup" -> ((s, d) =>
      urlDedupOf(urls(s, d), "url", "doc_id").orderBy("canon_url")),

    // Domain-blocklist filter + per-host corpus stats. The blocklist joins
    // as a broadcast ANTI-join on the lowercased host — the scale spelling
    // of `WHERE host NOT IN (...)`: a production blocklist (spam/SEO/adult
    // domain lists run to millions of rows) broadcasts in MBs while the
    // corpus never shuffles for the filter; the only shuffle is the
    // bounded per-host aggregation after it.
    "llm_domain_filter" -> ((s, d) => {
      val hosts = urls(s, d)
        .select(lower(parse_url(col("url"), lit("HOST"))).as("host"),
                col("n_chars"), col("lang"))
      blockHosts(hosts, "host", BlockedHosts)
        .groupBy("host")
        .agg(count(lit(1)).as("docs"),
             round(avg("n_chars"), 2).as("avg_chars"),
             countDistinct("lang").as("langs"))
        .orderBy("host")
    }),

    // BM25 retrieval over the corpus for a fixed query-term set — the
    // lexical half of retrieval (llm_knn_* is the dense half). Statistics
    // side: df per query term, N and avgdl — three tiny aggregates that
    // broadcast into the scoring join; corpus side: one (doc, term) tf
    // hash-agg over tokens pre-filtered to the query terms (the filter
    // sits on the exploded generator output, so non-query tokens die
    // before the shuffle). idf = ln((N-df+.5)/(df+.5)+1) — the
    // Lucene-style floor-at-zero-free variant, positive for any df. Output
    // ordered by the ROUNDED score (both engines round before ranking, so
    // sub-round reassociation noise cannot reorder the top-k cutoff).
    "llm_bm25_topk" -> ((s, d) =>
      bm25Of(Tables.documents(s, d), "doc_id", "text", Bm25Terms, Bm25K1, Bm25B)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)),

    // The same query answered from the PERSISTED inverted index — the
    // scale path for lexical search: the scan reads only the query terms'
    // partition buckets of the posting store (PartitionFilters from
    // driver-computed bucket literals; WebGraphSpec pins that the plan
    // never touches documents.parquet), so per-query work is
    // posting-proportional, not corpus-proportional. Same score
    // expression, same oracle as llm_bm25_topk — the gate proves
    // store+search ≡ scan-side compute, cross-engine.
    "llm_bm25_index" -> ((s, d) =>
      bm25IndexSearch(s, bm25IndexPath(s, d), Bm25Terms, Bm25K1, Bm25B)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)),

    // The day-2 economics of the inverted index: batch 2's postings are
    // appended with O(delta) work and NO day-1 re-read or artifact
    // restatement (df/avgdl are derived at search time — df from the
    // pruned postings, avgdl from integer-exact summed moments), and the
    // merged search is bit-for-bit a single-batch rebuild (WebGraphSpec).
    // Same oracle again: two-batch store + search ≡ raw-corpus compute.
    "llm_bm25_incremental" -> ((s, d) =>
      bm25IncSearch(s, bm25IncPath(s, d), Seq("1", "2"), Bm25Terms, Bm25K1, Bm25B)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)),

    // The crawl→index pipeline end to end: documents STREAMED through a
    // file source, each micro-batch appended to the persisted index
    // inside foreachBatch (own posting<id>/stats<id> in overwrite mode =
    // idempotent under replay), then searched over whatever parts the
    // stream produced — same oracle as the batch paths: streamed
    // maintenance ≡ batch build ≡ raw-corpus compute.
    "stream_index_sink" -> ((s, d) => {
      val dir = streamIndexPath(s, d)
      bm25IncSearch(s, dir, indexParts(dir), Bm25Terms, Bm25K1, Bm25B)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)
    }),

    // Index-part compaction: two appended batches rewritten as ONE
    // term-bucketed part, originals deleted — layout changes, content
    // doesn't, so the same oracle gates the compacted search. The spec
    // additionally pins that exactly one part remains.
    "llm_index_compact" -> ((s, d) => {
      val dir = compactIndexPath(s, d)
      bm25IncSearch(s, dir, indexParts(dir), Bm25Terms, Bm25K1, Bm25B)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(Bm25TopK)
    }),

    // Document-level PMI collocations with the anchor term — query
    // expansion / collocation mining over presence counts.
    "llm_pmi_terms" -> ((s, d) =>
      pmiTerms(Tables.documents(s, d), "doc_id", "text",
               PmiAnchor, PmiMinCooc, PmiTopK)),

    // Snippet extraction around the first "hash join" occurrence — the
    // display/RAG primitive after retrieval. Keyed off the corpus here so
    // the oracle can mirror it; in production it composes AFTER
    // phraseSearch has narrowed the hit set.
    // documentsWide (r20): the per-doc split+match+slice work ran in ONE
    // task off the one-file scan (measured 1.0 s single-task stage)
    "llm_snippet_extract" -> ((s, d) =>
      snippetOf(Tables.documentsWide(s, d), "doc_id", "text",
                PhraseTerms(0), PhraseTerms(1), SnippetContext)
        .orderBy("doc_id")),

    // Sloppy-phrase proximity from the same positional store: "join"
    // within 5 tokens AFTER "hash" — the relevance primitive between
    // bag-of-words and exact phrase. Oracle re-derives positions and
    // joins the distance band directly.
    "llm_proximity_search" -> ((s, d) =>
      proximitySearch(s, posIndexPath(s, d),
        PhraseTerms(0), PhraseTerms(1), ProximitySlop).orderBy("doc_id")),

    // Exact phrase search from the POSITIONAL index — what separates a
    // retrieval index from a bag-of-words one: per-doc token offsets are
    // stored once at build time, and "hash join" adjacency is decided by
    // intersecting shifted offset sets, never by re-reading text (the
    // plan touches only the two terms' partition buckets; WebGraphSpec
    // pins overlap semantics on planted docs). The oracle re-derives
    // token positions from the raw corpus and joins adjacency directly.
    "llm_phrase_search" -> ((s, d) =>
      phraseSearch(s, posIndexPath(s, d), PhraseTerms).orderBy("doc_id")),

    // Hybrid retrieval fusion — the production RAG/retrieval shape: the
    // lexical ranker (BM25 over the same terms as llm_bm25_topk) and the
    // dense ranker (cosine kNN from vec 0's embedding, linked doc_id =
    // vec_id — the synthetic corpus ships them aligned) each nominate
    // their top-[[RrfDepth]], and reciprocal-rank fusion scores
    // Σ 1/(k + rank) with k=[[RrfK]]. RRF is the standard score-free
    // fusion: it needs NO calibration between BM25's unbounded scores and
    // cosine's [-1,1] — only ranks — which is exactly why it survives at
    // scale where score normalization drifts per shard. Plan shape: the
    // two rankers run independently (each ends in a global top-50, driver
    // cost ≈ 50 rows), fusion is a 50×50 full-outer join — negligible
    // against either ranker's corpus pass; ranks materialize via
    // row_number over the ALREADY-CUT 50-row frames (a single tiny
    // partition by construction — never a window over the corpus).
    "llm_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lexTop = bm25Of(Tables.documents(s, d), "doc_id", "text",
                          Bm25Terms, Bm25K1, Bm25B)
        .orderBy(col("score").desc, col("doc_id")).limit(RrfDepth)
      val lex = lexTop.withColumn("rk_lex",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
        .select(col("doc_id"), col("rk_lex"))
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val denseTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
                round(call_function("graft_cosine", col("embedding"), col("q_emb")), 4).as("cs"))
        .orderBy(col("cs").desc, col("doc_id")).limit(RrfDepth)
      val dense = denseTop.withColumn("rk_dense",
          row_number().over(Window.orderBy(col("cs").desc, col("doc_id"))).cast("int"))
        .select(col("doc_id"), col("rk_dense"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(1.0) / (lit(RrfK) + col("rk_lex")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(RrfK) + col("rk_dense")), lit(0.0)), 6).as("rrf"),
          col("rk_lex"), col("rk_dense"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    }),

    // Ranking-quality EVAL: NDCG@10 of the BM25 ranking against a graded
    // relevance labeling derivable from the corpus itself (rel = #distinct
    // query terms present, 0..3 — "covers more aspects of the query").
    // The judge-the-retriever primitive every search/RAG pipeline needs in
    // CI. Plan: the ranked list and the ideal list are both top-k cuts
    // (TakeOrdered — never a corpus sort); the per-position gain
    // (2^rel−1)/log2(rk+1) is row-local on ≤k rows; labels join the
    // ranked cut by doc_id (k-row broadcast). Rank windows run over the
    // already-limited k rows, so nothing global touches the corpus.
    "llm_ndcg_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val rel = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin(Bm25Terms: _*))
        .groupBy("doc_id").agg(countDistinct("term").as("rel"))
      def gain(relC: Column, rkC: Column): Column =
        (pow(lit(2.0), relC.cast("double")) - 1.0) / log2(rkC + lit(1))
      val ranked = bm25Of(docs, "doc_id", "text", Bm25Terms, Bm25K1, Bm25B)
        .orderBy(col("score").desc, col("doc_id")).limit(NdcgK)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      val dcg = ranked.join(rel, Seq("doc_id"), "left")
        .agg(sum(gain(coalesce(col("rel"), lit(0L)), col("rk"))).as("dcg"))
      val idcg = rel
        .orderBy(col("rel").desc, col("doc_id")).limit(NdcgK)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rel").desc, col("doc_id"))))
        .agg(sum(gain(col("rel"), col("rk"))).as("idcg"))
      dcg.crossJoin(idcg)
        .select(round(col("dcg"), 4).as("dcg"),
                round(col("idcg"), 4).as("idcg"),
                round(col("dcg") / col("idcg"), 4).as("ndcg"))
    })
  ))

  val oracle: Map[String, String] = graft.Contract.uniqueMap("WebOps.oracle", Seq(
    "fn_url_parse" -> s"""
      WITH u AS ($UrlCte)
      SELECT doc_id,
             regexp_extract(url, '^https://([^/:#?]+)', 1) AS host,
             regexp_extract(url, '^https://[^/]+(/[^?#]*)', 1) AS path,
             coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS query,
             coalesce(regexp_extract(url, '#(.*)$$', 1), '') AS frag,
             coalesce(regexp_extract(url, '[?&]id=([^&#]*)', 1), '') AS id_param
      FROM u ORDER BY doc_id""",

    "llm_url_dedup" -> s"""
      WITH u AS ($UrlCte),
      nf AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nf FROM u),
      canon AS (
        SELECT doc_id,
               regexp_replace(lower(regexp_extract(nf, '^https://[^/]*')), ':443$$', '')
               || regexp_extract(nf, '^https://[^/]*(/[^?]*)', 1)
               || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon_url
        FROM (SELECT doc_id, nf,
                     array_to_string(
                       list_filter(string_split(regexp_extract(nf, '\\?(.*)$$', 1), '&'),
                                   p -> NOT starts_with(p, 'utm_')), '&') AS cq
              FROM nf))
      SELECT canon_url, count(*) AS n_dups, min(doc_id) AS first_doc
      FROM canon GROUP BY canon_url ORDER BY canon_url NULLS FIRST""",

    "llm_domain_filter" -> s"""
      WITH u AS ($UrlCte)
      SELECT lower(regexp_extract(url, '^https://([^/:#?]+)', 1)) AS host,
             count(*) AS docs,
             round(avg(n_chars), 2) AS avg_chars,
             count(DISTINCT lang) AS langs
      FROM u
      WHERE url IS NULL
         OR lower(regexp_extract(url, '^https://([^/:#?]+)', 1))
            NOT IN (${BlockedHosts.map(h => s"'$h'").mkString(", ")})
      GROUP BY 1 ORDER BY 1 NULLS FIRST""",

    "llm_bm25_topk" -> Bm25OracleSql,

    // Same BM25 CTE tower (un-limited); rel = #distinct query terms; both
    // cuts ranked with total (score/rel DESC, doc_id) orders; DCG gains on
    // the ROUNDED scores' ranking exactly as the Spark side computes.
    "llm_ndcg_eval" -> s"""
      WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
        GROUP BY doc_id, term),
      dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      bm AS (
        SELECT doc_id,
               round(sum(ln(1.0 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
                         * tf.tf * ($Bm25K1 + 1.0)
                         / (tf.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * dl.dl / stats.avgdl))), 4) AS score
        FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id, stats.n, stats.avgdl),
      rel AS (
        SELECT doc_id, count(DISTINCT term) AS rel FROM tf GROUP BY doc_id),
      ranked AS (
        SELECT * FROM (
          SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
          FROM bm) WHERE rk <= $NdcgK),
      dcg AS (
        SELECT sum((pow(2.0, COALESCE(rel, 0)) - 1.0) / log2(rk + 1)) AS dcg
        FROM ranked LEFT JOIN rel USING (doc_id)),
      ideal AS (
        SELECT sum((pow(2.0, rel) - 1.0) / log2(rk + 1)) AS idcg
        FROM (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rk
              FROM rel) WHERE rk <= $NdcgK)
      SELECT round(dcg, 4) AS dcg, round(idcg, 4) AS idcg,
             round(dcg / idcg, 4) AS ndcg
      FROM dcg CROSS JOIN ideal""",

    // Same BM25 CTE tower as Bm25OracleSql (un-limited, ranked), the dense
    // ranker as the knn-oracle cosine over FLOAT[] lists, RRF in plain SQL.
    "llm_hybrid_rrf" -> s"""
      ${graft.Contract.embIngestCteSql},
      dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
        GROUP BY doc_id, term),
      dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      bm AS (
        SELECT doc_id,
               round(sum(ln(1.0 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
                         * tf.tf * ($Bm25K1 + 1.0)
                         / (tf.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * dl.dl / stats.avgdl))), 4) AS score
        FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id, stats.n, stats.avgdl),
      lex AS (
        SELECT * FROM (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rk_lex
          FROM bm) WHERE rk_lex <= $RrfDepth),
      q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      cosd AS (
        SELECT c.vec_id AS doc_id,
          round(list_sum(list_transform(list_zip(q.embedding, c.embedding),
                         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               * list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
          AS cs
        FROM embeddings c, q WHERE c.vec_id <> 0),
      dense AS (
        SELECT * FROM (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS INT) AS rk_dense
          FROM cosd) WHERE rk_dense <= $RrfDepth)
      SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
             round(COALESCE(1.0 / ($RrfK + l.rk_lex), 0)
                 + COALESCE(1.0 / ($RrfK + r.rk_dense), 0), 6) AS rrf,
             l.rk_lex, r.rk_dense
      FROM lex l FULL JOIN dense r ON l.doc_id = r.doc_id
      ORDER BY rrf DESC, doc_id LIMIT 20""",
    // Independent re-derivation from the RAW corpus (identical SQL): the
    // gate proves the persisted index + pruned search reproduces the
    // scan-side computation exactly — for the one-shot index AND the
    // two-batch incremental store.
    "llm_bm25_index" -> Bm25OracleSql,
    "llm_bm25_incremental" -> Bm25OracleSql,
    "stream_index_sink" -> Bm25OracleSql,
    "llm_index_compact" -> Bm25OracleSql,

    // Identical presence/count algebra; both engines' `/` on integers is
    // fractional division, so the pmi doubles match at 4 dp.
    "llm_pmi_terms" -> s"""
      WITH p AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      n AS (SELECT count(DISTINCT doc_id) AS n FROM p),
      cb AS (SELECT term, count(*) AS cb FROM p GROUP BY term),
      a AS (SELECT doc_id FROM p WHERE term = '$PmiAnchor'),
      cab AS (
        SELECT term, count(*) AS cooc FROM p JOIN a USING (doc_id)
        WHERE term <> '$PmiAnchor' GROUP BY term),
      ca AS (SELECT cb AS ca FROM cb WHERE term = '$PmiAnchor')
      SELECT cab.term, round(ln(cab.cooc * n.n / (ca.ca * cb.cb)), 4) AS pmi,
             cab.cooc
      FROM cab JOIN cb USING (term) CROSS JOIN ca CROSS JOIN n
      WHERE cab.cooc >= $PmiMinCooc
      ORDER BY pmi DESC, term LIMIT $PmiTopK""",

    // Same first-adjacency-index + clipped slice in DuckDB list algebra
    // (list_slice is begin..end INCLUSIVE where Spark's slice is
    // start+length — both clip at the array edges).
    "llm_snippet_extract" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      m AS (SELECT doc_id, ws,
              list_filter(range(1, len(ws)),
                          i -> ws[i] = '${PhraseTerms(0)}'
                           AND ws[i + 1] = '${PhraseTerms(1)}') AS starts
            FROM t)
      SELECT doc_id,
             array_to_string(
               list_slice(ws, greatest(1, starts[1] - $SnippetContext),
                          starts[1] + ${1 + SnippetContext}), ' ') AS snippet
      FROM m WHERE len(starts) > 0 ORDER BY doc_id""",

    // Positions re-derived raw; the 0<diff<=slop band joined directly
    // (positions unique per (term, doc) ⇒ pair count = the Spark side's
    // nested-aggregate count).
    "llm_proximity_search" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      t0 AS (SELECT doc_id, pos FROM toks WHERE term = '${PhraseTerms(0)}'),
      t1 AS (SELECT doc_id, pos FROM toks WHERE term = '${PhraseTerms(1)}')
      SELECT t0.doc_id, count(*) AS pairs
      FROM t0 JOIN t1 ON t0.doc_id = t1.doc_id
        AND t1.pos > t0.pos AND t1.pos - t0.pos <= $ProximitySlop
      GROUP BY t0.doc_id ORDER BY t0.doc_id""",

    // Token positions re-derived from the raw corpus (generate_subscripts
    // zips with unnest in DuckDB); adjacency joined directly — positions
    // are unique per (term, doc), so the pair count equals the Spark
    // side's shifted-set intersection size. 1- vs 0-based offsets cancel
    // in the difference.
    "llm_phrase_search" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      t0 AS (SELECT doc_id, pos FROM toks WHERE term = '${PhraseTerms(0)}'),
      t1 AS (SELECT doc_id, pos - 1 AS pos FROM toks WHERE term = '${PhraseTerms(1)}')
      SELECT t0.doc_id, count(*) AS occurrences
      FROM t0 JOIN t1 ON t0.doc_id = t1.doc_id AND t0.pos = t1.pos
      GROUP BY t0.doc_id ORDER BY t0.doc_id"""
  ))

  private lazy val Bm25OracleSql: String = s"""
      WITH dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
        GROUP BY doc_id, term),
      dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      SELECT doc_id,
             round(sum(ln(1.0 + (stats.n - dfr.df + 0.5) / (dfr.df + 0.5))
                       * tf.tf * ($Bm25K1 + 1.0)
                       / (tf.tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * dl.dl / stats.avgdl))), 4) AS score
      FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id, stats.n, stats.avgdl
      ORDER BY score DESC, doc_id LIMIT $Bm25TopK"""
}
