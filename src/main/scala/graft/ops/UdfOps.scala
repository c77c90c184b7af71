package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** §2-J user-extension surface: scalar UDF, typed UDAF, generator (UDTF),
  * and the one custom Catalyst Expression (graft.functions.CosineSimilarity).
  *
  * Scale notes (100 TB):
  *  - A Scala UDF is a black box to Catalyst: no pushdown through it, no
  *    codegen inside it. `udf_scalar` therefore carries its native-`when`
  *    twin in the SAME query — the hash-checked proof that the two agree and
  *    a reminder that built-ins are the default (SURVEY §2-J).
  *  - The typed UDAF is a proper Aggregator: partial aggregation (reduce)
  *    runs map-side, merge combines partials — the same two-phase shape as
  *    built-in HashAggregate, so it scales like sum()/avg() do. Welford's
  *    update keeps the running mean numerically stable on 1e12-row groups
  *    where a naive sum(x*w) would lose low-order bits.
  *  - `expr_custom_cosine` evaluates inside whole-stage codegen (see the
  *    Expression's doc); its built-in `aggregate(zip_with(...))` twin is the
  *    cross-check and the fallback if the custom path ever regresses.
  */
object UdfOps {
  type Q = (SparkSession, String) => DataFrame

  /** Input/buffer rows for the weighted-mean Aggregator. */
  case class WIn(x: Double, w: Double)
  case class WBuf(mean: Double, wsum: Double)

  /** Numerically-stable (Welford-style) weighted mean: buffer carries the
    * running mean, not the running sum, so magnitude never grows with group
    * size. reduce = map-side partial, merge = shuffle-side combine.
    */
  object WeightedMean extends Aggregator[WIn, WBuf, Double] {
    override def zero: WBuf = WBuf(0.0, 0.0)
    override def reduce(b: WBuf, a: WIn): WBuf = {
      val wsum = b.wsum + a.w
      if (wsum == 0.0) b else WBuf(b.mean + (a.x - b.mean) * (a.w / wsum), wsum)
    }
    override def merge(b1: WBuf, b2: WBuf): WBuf = {
      val wsum = b1.wsum + b2.wsum
      if (wsum == 0.0) zero
      else WBuf(b1.mean + (b2.mean - b1.mean) * (b2.wsum / wsum), wsum)
    }
    override def finish(b: WBuf): Double = b.mean
    override def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val queries: Map[String, Q] = graft.Contract.uniqueMap("UdfOps.queries", Seq(
    // Scalar UDF + its native-expression twin in one hash-checked result.
    "udf_scalar" -> ((s, d) => {
      val band = udf((p: Double) =>
        if (p < 50000.0) "low" else if (p < 150000.0) "mid" else "high")
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          band(col("o_totalprice")).as("band_udf"),
          when(col("o_totalprice") < 50000.0, "low")
            .when(col("o_totalprice") < 150000.0, "mid")
            .otherwise("high").as("band_native"))
        .orderBy("o_orderkey")
    }),

    // Spark 4 SQL-DECLARED UDF (CREATE FUNCTION ... RETURN <expr>): the
    // body is SQL, so Catalyst INLINES it into the plan — full codegen,
    // pushdown and vectorization, none of a JVM closure's serialization
    // wall (udf_scalar documents that cost; this is the spelling that
    // avoids it while keeping the reusable-function ergonomics).
    "udf_sql_declared" -> ((s, d) => {
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
               RETURNS DOUBLE RETURN p * (1 - d)""")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_u")
      s.sql("""
        SELECT l_returnflag, round(sum(graft_disc_price(l_extendedprice, l_discount)), 2) AS revenue,
               count(*) AS n
        FROM lineitem_u
        WHERE (l_discount IS NULL OR
               (NOT isnan(l_discount) AND abs(l_discount) < CAST('Infinity' AS DOUBLE)))
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """)
    }),

    // Typed Aggregator: qty-weighted mean price per return flag.
    "udaf_typed" -> ((s, d) => {
      val wmean = udaf(WeightedMean)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(wmean(col("l_extendedprice"), col("l_quantity")), 2).as("wmean_price"),
          round(sum("l_quantity"), 2).as("sum_w"))
        .orderBy("l_returnflag")
    }),

    // Generator (UDTF shape): document → (doc_id, pos, word) tuples.
    // posexplode is Spark's built-in Generator; a custom Generator Expression
    // is the extension point if semantics ever outgrow it.
    "udtf_generator" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
        .orderBy("doc_id", "pos")
    }),

    // CUSTOM Generator (graft.functions.PosTokenize) — the §2-J UDTF
    // extension tier realized: same (doc_id, pos, word) fan-out as
    // udtf_generator, but produced by a registered Catalyst Generator
    // planned as a native Generate node (ExtensionsSpec pins the plan and
    // the row-for-row equality with the posexplode twin; the oracle is the
    // same DuckDB SQL as udtf_generator's).
    "udtf_custom" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
                call_function("graft_pos_tokenize", col("text")).as(Seq("pos", "word")))
        .orderBy("doc_id", "pos")
    }),

    // Custom Expression vs built-in higher-order-function twin, both in the
    // hash-checked output: cosine of consecutive embedding pairs.
    "expr_custom_cosine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
        .filter(col("a_id") < 200)
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      def sq = (x: org.apache.spark.sql.Column) => x.cast("double") * x.cast("double")
      val dot = aggregate(
        zip_with(col("a_emb"), col("b_emb"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val na = aggregate(transform(col("a_emb"), sq), lit(0.0), (acc, v) => acc + v)
      val nb = aggregate(transform(col("b_emb"), sq), lit(0.0), (acc, v) => acc + v)
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(
          col("a_id"),
          round(call_function("graft_cosine", col("a_emb"), col("b_emb")), 4).as("cos_expr"),
          round(dot / sqrt(na * nb), 4).as("cos_builtin"))
        .orderBy("a_id")
    })
  ))

  val oracle: Map[String, String] = graft.Contract.uniqueMap("UdfOps.oracle", Seq(
    // The SQL body inlined — what Catalyst does with the declared UDF.
    "udf_sql_declared" -> """
      SELECT l_returnflag,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n
      FROM lineitem
      WHERE (l_discount IS NULL OR isfinite(l_discount))
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "udf_scalar" -> """
      SELECT o_orderkey, round(o_totalprice, 2) AS price,
             CASE WHEN o_totalprice IS NULL THEN NULL
                  WHEN o_totalprice < 50000 THEN 'low'
                  WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band_udf,
             CASE WHEN o_totalprice < 50000 THEN 'low'
                  WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band_native
      FROM orders
      ORDER BY o_orderkey""",

    "udaf_typed" -> """
      SELECT l_returnflag,
             round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS wmean_price,
             round(sum(l_quantity), 2) AS sum_w
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "udtf_generator" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id, CAST(unnest(range(len(ws))) AS INT) AS pos, unnest(ws) AS word
      FROM t
      ORDER BY doc_id, pos""",

    // Same oracle text as udtf_generator: the custom Generator's contract
    // IS "row-for-row what posexplode(split) produces".
    "udtf_custom" -> """
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents WHERE doc_id < 100)
      SELECT doc_id, CAST(unnest(range(len(ws))) AS INT) AS pos, unnest(ws) AS word
      FROM t
      ORDER BY doc_id, pos""",

    // Manual double-precision cosine on BOTH columns: DuckDB's native
    // list_cosine_similarity computes in float32, whose rounded value can
    // disagree with the double computation in the 4th decimal. + 0.0
    // normalizes IEEE signed zero: a cosine that rounds to zero from below
    // is -0.0 in DuckDB but 0.0 from Spark's BigDecimal round.
    "expr_custom_cosine" -> s"""
      ${graft.Contract.embIngestCteSql},
      pairs AS (
        SELECT a.vec_id AS a_id, a.embedding AS ae, b.embedding AS be
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 200),
      c AS (
        SELECT a_id,
          list_sum(list_transform(list_zip(ae, be),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / sqrt(list_sum(list_transform(ae, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
               * list_sum(list_transform(be, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          AS cosv
        FROM pairs)
      SELECT a_id, round(cosv, 4) + 0.0 AS cos_expr, round(cosv, 4) + 0.0 AS cos_builtin
      FROM c
      ORDER BY a_id"""
  ))
}
