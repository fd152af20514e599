package graft.streaming

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSDataOutputStream, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/**
 * Streaming checkpoint writes (offset and commit logs, state-store delta
 * and snapshot files) without forking a process per file.
 *
 * Without libhadoop, Hadoop's local file system runs `chmod` for every
 * file it creates, and the `FileContext` rename Spark uses by default runs
 * `readlink` twice per rename. On `file:` paths this manager writes the
 * temp file with a plain `FileOutputStream` and moves it into place with
 * one `rename(2)`, keeping the write-temp-then-rename atomicity, the
 * no-overwrite check and `cancel()`. Every other scheme gets Spark's
 * default manager, so atomicity on HDFS or object stores is Spark's own.
 */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (path.getFileSystem(conf).getScheme == "file") new LocalCheckpointFileManager.Local(path, conf)
    else {
      val stock = new Configuration(conf)
      stock.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, stock)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Idempotent per-session installation. A manager already set on the
    * session, by the user or anyone else, is left in place. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** Reads, listings, `mkdirs` and deletes stay on the checksummed local
    * file system; only the temp-file create and the rename bypass it. */
  private final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    private def file(p: Path): File = new File(fs.makeQualified(p).toUri)

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = file(p)
      f.getParentFile.mkdirs()
      new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(f)), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val target = file(dst)
      if (target.exists()) {
        if (!overwriteIfPossible) {
          // the calling stream rethrows without deleting its temp file
          Files.delete(file(src).toPath)
          throw new FileAlreadyExistsException(s"Failed to rename $src to $dst as destination already exists")
        }
        // A `.crc` the checksummed file system wrote for the old bytes
        // would fail every later read of the new ones.
        Files.deleteIfExists(new File(target.getParentFile, s".${target.getName}.crc").toPath)
      }
      Files.move(file(src).toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
