package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [key ...] — trailing keys restrict the dump (local
    // iteration); the driver always passes exactly two.
    val Array(sfDir, outDir, keyFilter @ _*) = args
    // Before ANY ops object initializes: point the store-reading oracle
    // constants (LlmOps.OracleSfDir, TextOps.OracleBpeDir,
    // ScanOps.scan_metadata_cols) at THIS run's data dir, so a local
    // sweep at sf0.001 generates oracle SQL against sf0.001's stores
    // (r16 verdict #6). The driver always passes sf0.01 — the default —
    // so its oracle strings are byte-identical to before.
    System.setProperty("graft.oracle.sfdir", sfDir)
    val spark = LocalSpark.session()
    // every key reads the base tables with their declared schemas, so a
    // drifted file must stop the run here rather than read as NULLs
    Tables.checkSchemas(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (keyFilter.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => keyFilter.contains(k) }
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Keys that threw above produce NO parquet dir and silently vanish
    // from the driver's per-key record (r9: an events.parquet timestamp
    // retype failed 34 keys and the round's correctness json just had 34
    // fewer entries) — name them in a dump the post-mortem can read.
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // The FULL contract key list (not just the selected subset), so
    // tools/selfcheck.py can diff it against SURVEY §2 — the mechanical
    // contract check the judge runs, moved to build time (r15 verdict #7).
    Files.writeString(Paths.get(s"$outDir/_keys.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
