package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, LinkOption, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's [[CheckpointFileManager]] for the engine's streaming queries:
  * local (`file:`) checkpoints through java.nio, every other scheme through
  * the manager Spark itself would pick.
  *
  * Spark's default manager writes local checkpoints through Hadoop's
  * checksummed local file system, which sets the permission of every file,
  * `.crc` file and directory it creates. Without the native Hadoop library
  * each of those calls starts a `chmod` process, and a micro-batch writes
  * at least an offset-log and a commit-log entry (plus state-store deltas).
  * For a local path this manager instead:
  *  - `createAtomic`: writes `.<name>.<uuid>.tmp` beside the target and, on
  *    `close()`, links it to the target (`overwriteIfPossible = false`: an
  *    existing target raises Hadoop's `FileAlreadyExistsException`, which
  *    `HDFSMetadataLog` reads as a second writer, and keeps its bytes) or
  *    moves it over the target atomically; `cancel()` removes the temp file;
  *  - `open`, `list`: Hadoop's raw local file system, no `.crc` check;
  *    `list` hides temp files and Hadoop `.crc` files, as the checksummed
  *    file system hides the latter;
  *  - `mkdirs`, `exists`, `delete`: java.nio.
  * Nothing sets a permission and nothing writes a `.crc` file. A checkpoint
  * written by the default manager resumes here: its `.crc` files are
  * ignored on read and removed with their file, so a later checksummed read
  * never meets a stale one.
  *
  * Declared once, as `GraftExtensions.checkpointFileManager`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** What serves this path: [[Nio]] for a local one, else Spark's choice
    * with this class unconfigured. */
  private[graft] val impl: CheckpointFileManager = (path.getFileSystem(hadoopConf) match {
    case l: LocalFileSystem => l.getRawFileSystem
    case fs => fs
  }) match {
    case r: RawLocalFileSystem if r.getUri.getScheme == "file" => new Nio(path, r)
    case _ =>
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  /** Spark's key for the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's checksum twin and this manager's temp files. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") && (name.endsWith(".crc") || name.endsWith(".tmp"))

  private def crcOf(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Removes `p` and everything under it, if it exists. */
  private[graft] def deleteTree(p: NioPath): Unit =
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[NioPath]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    } else {
      Files.deleteIfExists(p)
      Files.deleteIfExists(crcOf(p))
    }

  private final class Nio(root: Path, raw: RawLocalFileSystem) extends CheckpointFileManager {
    private def file(p: Path): NioPath = raw.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = file(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new CancellableFSDataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE),
          1 << 16)) {
        private var done = false
        override def close(): Unit = synchronized {
          if (!done) {
            done = true
            try {
              underlyingStream.close()
              if (overwriteIfPossible) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
              else try Files.createLink(target, temp) catch {
                case _: java.nio.file.FileAlreadyExistsException =>
                  throw new FileAlreadyExistsException(s"$p already exists")
              }
              Files.deleteIfExists(crcOf(target))
            } finally Files.deleteIfExists(temp)
          }
        }
        override def cancel(): Unit = synchronized {
          if (!done) {
            done = true
            try underlyingStream.close() finally Files.deleteIfExists(temp)
          }
        }
      }
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      raw.listStatus(p, (q: Path) => !hidden(q.getName) && filter.accept(q))
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = Files.exists(file(p))
    override def delete(p: Path): Unit = deleteTree(file(p))
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      raw.makeQualified(root)
    }
  }
}
