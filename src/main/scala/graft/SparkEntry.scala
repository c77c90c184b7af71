package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.api.Graft
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the normative operator inventory (SURVEY.md §2): one key per
  * operator; `oracleSql` carries the DuckDB-equivalent SQL for the
  * hash-match correctness gate. Keys without an oracle entry (streaming
  * assertions, approx sketches, hash-seeded ops) get a rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AggOps.queries("agg_groupby")(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (ScanOps.queries, ScanOps.oracle),
      (RelOps.queries, RelOps.oracle),
      (JoinOps.queries, JoinOps.oracle),
      (AggOps.queries, AggOps.oracle),
      (WinOps.queries, WinOps.oracle),
      (FnOps.queries, FnOps.oracle),
      (UdfOps.queries, UdfOps.oracle),
      (LlmOps.queries, LlmOps.oracle),
      (TextOps.queries, TextOps.oracle),
      (OptOps.queries, OptOps.oracle),
      (GraphOps.queries, GraphOps.oracle),
      (WebOps.queries, WebOps.oracle),
      (SqlOps.queries, SqlOps.oracle),
      (graft.streaming.StreamOps.queries, graft.streaming.StreamOps.oracle)
    )

  /** One entry per implemented operator from SURVEY.md §2. Each key runs
    * [[graft.api.Graft.register]] first, so the keys also work on a
    * session not built with `spark.sql.extensions=graft.GraftExtensions`. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _).map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => { Graft.register(s); f(s, d) })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
