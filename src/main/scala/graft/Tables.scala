package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Central table access. Every query goes through here so scale-critical
  * reader concerns (the declared schemas, the `events` timestamp cast,
  * partition sizing) live in exactly one place.
  *
  * Every base table is read with its declared schema ([[schemas]], the
  * FIXTURES.md declaration), so resolving a table runs no footer-inference
  * job: a key's DataFrame is built on the driver without touching Spark's
  * scheduler. A declared read does not catch every drift in the files — a
  * retyped column fails at execution (PARQUET_COLUMN_DATA_TYPE_MISMATCH),
  * but a declared column missing from the file reads as all-NULL with no
  * error — so the entry points run [[checkSchemas]] once per data dir,
  * before their first key.
  *
  * Scale note (100 TB): these are plain parquet scans — Catalyst handles
  * column pruning + predicate pushdown as long as callers keep filters and
  * projections declarative. No collect(), no schema inference per read.
  */
object Tables {
  private def fields(pairs: (String, DataType)*): StructType =
    StructType(pairs.map { case (n, t) => StructField(n, t) })

  /** The base tables' declared schemas (FIXTURES.md), in file column
    * order. Parquet `timestamp[us]` columns written without a UTC
    * adjustment (every testdata generation's `o_orderdate`, `l_shipdate`
    * and `events.ts`) are TIMESTAMP_NTZ in Spark 4. */
  val schemas: Map[String, StructType] = Map(
    "region" -> fields("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> fields("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "supplier" -> fields("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "customer" -> fields("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "part" -> fields("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> fields("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> fields("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> fields("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> fields("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> fields("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  private def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** A base table, read with its declared schema (no inference job). */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(path(sfDir, name))

  /** Footer check of every base table under `sfDir` against [[schemas]]:
    * infers each table's schema from its files once (one job per table)
    * and throws, naming every table and column that differs — a declared
    * column missing from the file, a column of another type, or a column
    * the declaration lacks. Run it once per data dir, outside any timed
    * region: it is the inference the declared reads no longer do. */
  def checkSchemas(spark: SparkSession, sfDir: String): Unit = {
    val drift = schemas.keys.toSeq.sorted.flatMap(schemaDrift(spark, sfDir, _))
    if (drift.nonEmpty)
      throw new IllegalStateException(
        s"$sfDir: base-table schemas differ from Tables.schemas: ${drift.mkString("; ")}")
  }

  /** The differences of one table's footer schema under `sfDir` from its
    * declaration, one `table.column: ...` line each (empty when none). */
  def schemaDrift(spark: SparkSession, sfDir: String, name: String): Seq[String] = {
    val declared = schemas(name)
    val found = spark.read.parquet(path(sfDir, name)).schema
    val inFile = found.map(f => f.name -> f.dataType).toMap
    declared.flatMap { f =>
      inFile.get(f.name) match {
        case None => Some(s"$name.${f.name}: declared ${f.dataType.sql}, missing from the file")
        case Some(dt) if dt != f.dataType =>
          Some(s"$name.${f.name}: declared ${f.dataType.sql}, file has ${dt.sql}")
        case _ => None
      }
    } ++ found.filterNot(f => declared.fieldNames.contains(f.name))
      .map(f => s"$name.${f.name}: in the file (${f.dataType.sql}), not declared")
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")

  /** File count of a table's parquet dir, cached per (sfDir, name) for the
    * JVM's lifetime. `df.inputFiles` resolves from the already-listed
    * FileIndex — no plan-to-RDD conversion (the previous
    * `df.rdd.getNumPartitions` materialized an RDD conversion per call and
    * made the widen decision depend on `defaultParallelism`-sized splits
    * rather than the data layout). Testdata is immutable (`/root/testdata`
    * is read-only), so the cache cannot go stale within a run. */
  private val fileCount = scala.collection.concurrent.TrieMap.empty[(String, String), Int]
  private def filesOf(df: DataFrame, d: String, name: String): Int =
    fileCount.getOrElseUpdate((d, name), df.inputFiles.length)

  /** Widen a table to the session's parallelism when its parquet layout
    * has fewer files than cores. The per-row-compute-heavy pipelines
    * (shingles, token hashes, winnowing k-grams, banded-join probes over
    * `embedding` vectors) otherwise serialize on a single task at test
    * scale — documents/embeddings are each ONE small file (measured: the
    * single-task shingle build was ~60% of every minhash-family query's
    * cost at sf0.1; the single-task banded-cosine probe was ~80% of
    * opt_cosine_rewrite's). The widen is a round-robin exchange bounded by
    * corpus bytes, and a no-op exactly when it should be: a many-file
    * 100 TB corpus already scans wider than this condition. */
  private def wide(s: SparkSession, d: String, name: String): DataFrame = {
    val df = t(s, d, name)
    val target = s.sparkContext.defaultParallelism
    if (filesOf(df, d, name) < target) df.repartition(target) else df
  }

  def documentsWide(s: SparkSession, d: String): DataFrame = wide(s, d, "documents")

  /** Vector-ingest contract (r19 fuzz sweep): a zero-LENGTH vector makes
    * every element_at/fold crash or produce dim-dependent garbage, and a
    * zero-NORM vector has no cosine direction (0/0) — both are
    * un-embeddable rows a production vector pipeline rejects at the
    * ingest edge, once, instead of guarding every consumer. This reader
    * IS that edge: it drops them (codegen'd size + short-circuit exists,
    * no shuffle). NULL vectors pass through — their handling is each
    * key's own r18-pinned null convention. Every embedding oracle
    * restates the same reject as a shadowing `embeddings AS (...)` CTE. */
  private def validVectors(df: DataFrame): DataFrame =
    df.filter(col("embedding").isNull ||
      (size(col("embedding")) > 0 &&
       exists(col("embedding"), x => x =!= 0.0f)))

  def embeddings(s: SparkSession, d: String): DataFrame =
    validVectors(t(s, d, "embeddings"))
  /** `embeddings` for join-probe-side consumers (see [[wide]]). Keep the
    * plain `embeddings` for broadcast/build/aggregate-only consumers — an
    * exchange ahead of a broadcast or a hash-agg buys nothing. */
  def embeddingsWide(s: SparkSession, d: String): DataFrame =
    validVectors(wide(s, d, "embeddings"))

  /** `events`, read with its declared `ts TIMESTAMP_NTZ` (the files hold
    * parquet `timestamp[us]` without a UTC adjustment) and cast to the
    * session-TZ TimestampType every downstream query and the DuckDB
    * oracle agree on. The session TZ is pinned UTC by every entry point,
    * so the cast is wall-clock identity and matches DuckDB's naive
    * TIMESTAMP read. A file whose `ts` has another physical type (INT64
    * TIMESTAMP(NANOS) in an early testdata generation) is refused: by
    * [[checkSchemas]], or at read time. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events").withColumn("ts", col("ts").cast(TimestampType))
}
