package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema suite (SURVEY §5). The base tables are read with the declared
  * schemas of `Tables.schemas` (FIXTURES.md), so comparing a read-back
  * schema with the declaration proves nothing; what is pinned here is the
  * footer check that catches drift in the files, and that resolving a
  * table or building a key's frame runs no Spark job. */
class SchemaPinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  /** Every scale factor's data dir next to the test one. */
  private val sfDirs: Seq[String] =
    Option(new java.io.File(d).getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("sf")).map(_.getPath).sorted.toSeq

  test("footer check: every testdata dir matches the declared schemas") {
    assert(sfDirs.contains(d), sfDirs)
    sfDirs.foreach(Tables.checkSchemas(spark, _))
  }

  // one pin per table, so a drifted table is named by the failing test
  Tables.schemas.keys.toSeq.sorted.foreach { name =>
    test(s"schema pin: $name") {
      val drift = sfDirs.flatMap(dir => Tables.schemaDrift(spark, dir, name).map(m => s"$dir: $m"))
      assert(drift.isEmpty, drift.mkString("; "))
    }
  }

  /** A copy of the sf0.001 dir with `lineitem` rewritten by `f`. */
  private def driftedCopy(f: DataFrame => DataFrame): String = {
    val dir = Files.createTempDirectory("graft-schemadrift-")
    Files.list(Paths.get(d)).forEach { (p: Path) =>
      if (p.getFileName.toString != "lineitem.parquet")
        Files.copy(p, dir.resolve(p.getFileName))
    }
    f(spark.read.parquet(s"$d/lineitem.parquet"))
      .write.parquet(s"$dir/lineitem.parquet")
    dir.toString
  }

  private def checkFails(dir: String): String =
    intercept[IllegalStateException](Tables.checkSchemas(spark, dir)).getMessage

  test("footer check: a column dropped from a file fails, naming it") {
    val dir = driftedCopy(_.drop("l_tax"))
    val msg = checkFails(dir)
    assert(msg.contains("lineitem.l_tax") && msg.contains("missing"), msg)
    // the drift a declared read alone does not report: the column reads
    // as all-NULL with no error
    assert(Tables.lineitem(spark, dir).filter(col("l_tax").isNotNull).count() === 0)
  }

  test("footer check: a retyped column fails, naming it") {
    val msg = checkFails(driftedCopy(_.withColumn("l_quantity", col("l_quantity").cast("int"))))
    assert(msg.contains("lineitem.l_quantity") && msg.contains("INT"), msg)
    assert(!msg.contains("l_tax"), msg)
  }

  test("events reads ts as session-TZ TimestampType") {
    val actual = Tables.events(spark, d).schema.map(f => f.name -> f.dataType)
    assert(actual === Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType))
  }

  /** Spark jobs started on this thread while `body` runs. The listener bus
    * delivers events in order, so once a marker job's start has arrived,
    * every job `body` started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"graft-jobcount-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => seen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "construction")
      body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("resolving a base table runs no Spark job") {
    val n = jobsDuring {
      Tables.schemas.keys.filter(_ != "events").foreach(Tables.t(spark, d, _))
      Tables.events(spark, d)
    }
    assert(n === 0)
  }

  test("building a store key's frame runs no Spark job") {
    val keys = Seq("sql_q6_forecast_revenue", "join_broadcast", "agg_groupby", "win_lag_lead")
    keys.foreach { k =>
      assert(jobsDuring(SparkEntry.queries(k)(spark, d)) === 0, k)
    }
  }

  test("a SQL key registers only the views its text names") {
    def viewsOf(key: String): Set[String] = {
      val s = spark.newSession() // temp views are per session
      SparkEntry.queries(key)(s, d)
      s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    }
    assert(viewsOf("sql_q6_forecast_revenue") === Set("lineitem_m"))
    assert(viewsOf("sql_q3_shipping") === Set("customer_m", "orders_m", "lineitem_m"))
    assert(viewsOf("sql_recursive_cte") === Set("walk_edges_m"))
  }

  test("fixture row counts at sf0.001") {
    assert(Tables.region(spark, d).count() === 5)
    assert(Tables.nation(spark, d).count() === 25)
    assert(Tables.customer(spark, d).count() === 150)
    assert(Tables.orders(spark, d).count() === 1500)
    assert(Tables.events(spark, d).count() === 1000)
    assert(Tables.documents(spark, d).count() === 500)
    assert(Tables.embeddings(spark, d).count() === 500)
  }

  private def fields(pairs: (String, DataType)*): StructType =
    StructType(pairs.map { case (n, t) => StructField(n, t) })

  test("schema pin: persisted signature store layout (cross-run contract)") {
    // llm_dedup_incremental's store outlives the job that wrote it — a
    // schema drift here silently breaks every older store a production
    // deployment still probes, so the layout is pinned like a fixture
    val store = graft.ops.LlmOps.sigStorePath(spark, d)
    val bands = StructType(spark.read.parquet(s"$store/bands").schema.map(f =>
      StructField(f.name, f.dataType)))
    assert(bands === fields("doc_id" -> LongType,
      "band" -> IntegerType, "bh" -> IntegerType))
    val sh = StructType(spark.read.parquet(s"$store/sh").schema.map(f =>
      StructField(f.name, f.dataType)))
    assert(sh === fields("doc_id" -> LongType, "sh" -> ArrayType(StringType)))
  }

  test("documentsWide widens a narrow scan to session parallelism") {
    val wide = Tables.documentsWide(spark, d)
    assert(wide.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    // and it must be a pure widen: same rows as the plain reader
    assert(wide.count() === Tables.documents(spark, d).count())
  }
}
