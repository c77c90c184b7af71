package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.{Dedup, Graft, Similarity}
import Main.{Ctx, Op, Workload, noop}

object Workloads {
  /** The tweet store: Structured Streaming ingest of `events` through
    * the in-process bus, then the analyst's queries over the stored
    * tables: one key of the join, aggregate, window and composite-SQL
    * families. */
  val StoreKeys: Seq[String] = Seq(
    "stream_bus_sink", "join_broadcast", "agg_groupby", "win_lag_lead",
    "sql_q6_forecast_revenue")

  /** Keys run by name through the program's contract table
    * (`graft.SparkEntry.queries`), each timed to full materialization of
    * its frame with the `noop` sink. The checker restates each key with
    * its DuckDB SQL (`graft.SparkEntry.oracleSql`) over the same parquet. */
  final class Keys(spark: SparkSession, sf: String, keys: Seq[String]) extends Workload {
    private val fns = graft.SparkEntry.queries
    private val oracle = graft.SparkEntry.oracleSql
    require(keys.forall(k => fns.contains(k) && oracle.contains(k)),
      s"keys without a query or a restatement: ${keys.filterNot(k => fns.contains(k) && oracle.contains(k))}")

    /** The warm-up round writes each key's output where the checker reads
      * it; measured rounds discard it through the `noop` sink. */
    private var outputs: Option[File] = None

    def ops: Seq[Op] = keys.map { k =>
      Op(k, (ctx: Ctx) => {
        val df = ctx.construct(fns(k)(spark, sf))
        ctx.exec(outputs match {
          case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/results/$k")
          case None => noop(df)
        })
        0L
      })
    }

    override def warmup(out: File, run: => Unit): Unit = {
      outputs = Some(out)
      try run finally outputs = None
    }

    def dump(out: File): Unit =
      Files.writeString(Paths.get(s"$out/oracle.json"), Json(keys.map(k => k -> oracle(k)).toMap))
  }

  /** The LLM-curation user: the dedup operators and the vector searches
    * of `graft.api` over a seeded corpus (see stage.py). */
  final class CorpusDedup(spark: SparkSession, dir: String) extends Workload {
    Graft.register(spark)
    private val docs = spark.read.parquet(s"$dir/docs.parquet")
    private val vectors = spark.read.parquet(s"$dir/vectors.parquet")
    private val queries = spark.read.parquet(s"$dir/queries.parquet")
    private val nDocs = docs.count()
    private val nQueries = queries.count()
    val K = 10
    private val last = scala.collection.mutable.Map.empty[String, Array[Row]]

    private def collect(ctx: Ctx, name: String, f: => DataFrame): Array[Row] = {
      val rows = ctx.exec(ctx.construct(f).collect())
      last(name) = rows
      rows
    }

    def ops: Seq[Op] = Seq(
      Op("dedup.exact", ctx => { collect(ctx, "exact", Dedup.exact(docs)); nDocs }),
      Op("dedup.minhash", ctx => { collect(ctx, "minhash", Dedup.minhashPairs(docs, 0.6)); nDocs }),
      Op("dedup.simhash", ctx => { collect(ctx, "simhash", Dedup.simhashPairs(docs)); nDocs }),
      Op("dedup.containment", ctx => {
        collect(ctx, "containment", Dedup.containmentPairs(docs, 0.8)); nDocs }),
      Op("similarity.knn", ctx => {
        collect(ctx, "knn", Similarity.knn(queries, vectors, K)); nQueries }),
      Op("similarity.lsh", ctx => {
        collect(ctx, "lsh", Similarity.lshSearch(queries, vectors, K)); nQueries })
    )

    override def confirmedPairs: Long =
      Seq("minhash", "simhash", "containment").map(k => last.get(k).fold(0L)(_.length.toLong)).sum

    def dump(out: File): Unit = {
      val d = new File(out, "results")
      d.mkdirs()
      last.foreach { case (k, rows) =>
        Files.writeString(Paths.get(s"$d/$k.json"), Json(rows.toSeq.map(_.toSeq)))
      }
      Files.writeString(Paths.get(s"$out/corpus.json"),
        Json.obj("k" -> K, "docs" -> nDocs, "queries" -> nQueries))
    }
  }
}
