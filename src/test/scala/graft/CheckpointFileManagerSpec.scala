package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `LocalCheckpointFileManager`: the contract Spark's metadata logs and
  * state stores rely on, kept for local paths through java.nio, and every
  * other scheme left to the manager Spark itself picks. */
class CheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val conf = new Configuration()
  private val made = scala.collection.mutable.ArrayBuffer.empty[NioPath]

  private def tmp(): NioPath = {
    val dir = Files.createTempDirectory("graft-cfm-spec-")
    made += dir
    dir
  }
  override def afterAll(): Unit = made.foreach(LocalCheckpointFileManager.deleteTree)
  private def manager(dir: NioPath) = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
  private def fileIn(dir: NioPath, name: String) = new Path(new Path(dir.toUri), name)
  private def names(dir: NioPath): Set[String] = dir.toFile.list().toSet

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic without overwrite refuses an existing file and keeps its bytes") {
    val dir = tmp()
    val fm = manager(dir)
    val p = fileIn(dir, "0")
    write(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    // Hadoop's exception, the one HDFSMetadataLog reads as a second writer
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(read(fm, p) === "first")
    assert(names(dir) === Set("0"))
  }

  test("createAtomic with overwrite replaces the file, with no .crc twin") {
    val dir = tmp()
    val fm = manager(dir)
    val p = fileIn(dir, "1.delta")
    write(fm, p, "old", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) === "new")
    assert(names(dir) === Set("1.delta"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val dir = tmp()
    val fm = manager(dir)
    val p = fileIn(dir, "2")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")), "writes go to a temp file")
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("list applies its filter and hides temp and .crc files") {
    val dir = tmp()
    val fm = manager(dir)
    Seq("1", "2", "x").foreach(n => write(fm, fileIn(dir, n), n, overwrite = false))
    Files.write(dir.resolve(".1.crc"), Array[Byte](1, 2, 3))
    val inFlight = fm.createAtomic(fileIn(dir, "3"), overwriteIfPossible = false)
    try {
      val numeric = fm.list(new Path(dir.toUri), (q: Path) => q.getName.forall(_.isDigit))
      assert(numeric.map(_.getPath.getName).toSet === Set("1", "2"))
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("1", "2", "x"))
    } finally inFlight.cancel()
  }

  test("mkdirs, exists and delete; delete takes a file's .crc twin with it") {
    val dir = tmp()
    val fm = manager(dir)
    val sub = fileIn(dir, "state/0/3")
    fm.mkdirs(sub)
    assert(fm.exists(sub))
    val f = new Path(sub, "1.delta")
    write(fm, f, "d", overwrite = true)
    Files.write(dir.resolve("state/0/3/.1.delta.crc"), Array[Byte](1))
    fm.delete(f)
    assert(!fm.exists(f) && names(dir.resolve("state/0/3")).isEmpty)
    fm.delete(fileIn(dir, "state"))
    assert(!fm.exists(fileIn(dir, "state")))
    fm.delete(fileIn(dir, "absent")) // no error
  }

  test("the engine's sessions are built with this manager") {
    assert(TestSpark.spark.conf.get(LocalCheckpointFileManager.ConfKey) ===
      classOf[LocalCheckpointFileManager].getName)
    val fm = CheckpointFileManager.create(new Path(tmp().toUri),
      TestSpark.spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
  }

  test("a stateful query resumes from a checkpoint written by Spark's default manager") {
    val spark = TestSpark.spark
    import spark.implicits._
    val key = LocalCheckpointFileManager.ConfKey
    val (src, ckpt) = (tmp(), tmp())
    def arrive(batch: Int): Unit =
      Files.writeString(src.resolve(s"part-$batch.json"),
        (batch * 10 until batch * 10 + 10).map(i => s"""{"id":$i}""").mkString("\n"))
    def run(name: String): Set[(Long, Long, Long)] = {
      spark.readStream.schema("id LONG").json(src.toString)
        .groupBy((col("id") % 2).as("k"))
        .agg(count(lit(1)).as("n"), sum("id").as("s"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      spark.table(name).as[(Long, Long, Long)].collect().toSet
    }
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
      arrive(0)
      assert(run("graft_cfm_resume_a") === Set((0L, 5L, 20L), (1L, 5L, 25L)))
      assert(Files.exists(ckpt.resolve("offsets/.0.crc")), "the default manager writes .crc twins")
      spark.conf.set(key, classOf[LocalCheckpointFileManager].getName)
      arrive(1)
      // batch 1 reads the state the default manager wrote in batch 0
      assert(run("graft_cfm_resume_b") === Set((0L, 10L, 90L), (1L, 10L, 100L)))
      assert(Files.exists(ckpt.resolve("offsets/1")) && !Files.exists(ckpt.resolve("offsets/.1.crc")))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a path of another scheme goes to the manager Spark would pick") {
    val other = new Configuration()
    other.set("fs.graftother.impl", classOf[OtherSchemeFs].getName)
    other.set("fs.AbstractFileSystem.graftother.impl", classOf[OtherSchemeAfs].getName)
    val dir = tmp()
    val root = new Path(s"graftother://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, other)
    assert(fm.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(fm.impl.getClass === CheckpointFileManager.create(root, other).getClass)
    val p = new Path(root, "0")
    write(fm, p, "via Spark's manager", overwrite = false)
    assert(read(fm, p) === "via Spark's manager")
    assert(manager(dir).impl.getClass !== fm.impl.getClass)
  }
}

/** The raw local file system under a scheme of its own. */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
}

class OtherSchemeAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new OtherSchemeFs, conf, "graftother", false)
