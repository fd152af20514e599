package graft.streaming

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.model.AdClickEvent

/** The local disk under a scheme other than `file`. */
class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: URI = URI.create("mock:///")
}

/** The checkpoint file manager the stream twins install: the write
  * guarantees Spark's managers give, on `file:` paths without forking a
  * process per file, and Spark's own manager everywhere else. */
class LocalCheckpointFileManagerSpec extends SparkSuite {

  import spark.implicits._

  private def tempDir(): Path = new Path(Files.createTempDirectory("graft_cfm").toUri)

  private def names(dir: Path): Set[String] = new File(dir.toUri).list().toSet

  private def read(p: Path): String = Files.readString(new File(p.toUri).toPath)

  private def write(fm: CheckpointFileManager, p: Path, body: String,
                    overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  test("createAtomic: nothing is visible at the path before close") {
    val dir = tempDir()
    val p = new Path(dir, "1")
    val out = new LocalCheckpointFileManager(dir, new Configuration()).createAtomic(p, false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!new File(p.toUri).exists())
    out.close()
    assert(read(p) === "v1")
    assert(names(dir) === Set("1"), "the temp file is renamed into place, not left beside it")
  }

  test("cancel leaves no file behind") {
    val dir = tempDir()
    val out = new LocalCheckpointFileManager(dir, new Configuration()).createAtomic(new Path(dir, "1"), true)
    out.write("v1".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("no-overwrite on an existing path throws FileAlreadyExistsException, old bytes kept") {
    val dir = tempDir()
    val p = new Path(dir, "1")
    val fm = new LocalCheckpointFileManager(dir, new Configuration())
    write(fm, p, "old")
    intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
    assert(read(p) === "old")
    assert(names(dir) === Set("1"), "the refused temp file is deleted")
  }

  test("overwriting a file Spark's default manager wrote drops its stale .crc") {
    val dir = tempDir()
    val p = new Path(dir, "1")
    write(CheckpointFileManager.create(dir, new Configuration()), p, "written by the default manager")
    assert(names(dir).contains(".1.crc"), "the default manager leaves a checksum sidecar")
    write(new LocalCheckpointFileManager(dir, new Configuration()), p, "new")
    val in = FileSystem.getLocal(new Configuration()).open(p)
    try assert(new String(in.readAllBytes(), UTF_8) === "new")
    finally in.close()
    assert(names(dir) === Set("1"))
  }

  test("a non-file path is handled by Spark's default manager") {
    val conf = new Configuration()
    conf.set("fs.mock.impl", classOf[MockSchemeFileSystem].getName)
    conf.setBoolean("fs.mock.impl.disable.cache", true)
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val dir = new Path(URI.create("mock://" + Files.createTempDirectory("graft_cfm").toString))
    val fm = CheckpointFileManager.create(dir, conf).asInstanceOf[LocalCheckpointFileManager]
    // no AbstractFileSystem serves "mock", so Spark's default falls back
    // from FileContext to FileSystem: the exact class shows who decided
    assert(fm.delegate.getClass === classOf[FileSystemBasedCheckpointFileManager])
    write(fm, new Path(dir, "1"), "v1")
    val in = fm.open(new Path(dir, "1"))
    try assert(new String(in.readAllBytes(), UTF_8) === "v1")
    finally in.close()
  }

  // The guard also covers the query's start and its first batch; the
  // name predates that.
  test("fork guard: no process starts once the first micro-batch has committed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AdClickEvent]
    val ckpt = Files.createTempDirectory("graft_fork_guard").resolve("ckpt").toString
    // A session the GC collects forks `rm -rf` for its artifact
    // directory (Spark's ArtifactManager cleaner, on the JVM Cleaner
    // thread). Earlier suites' stopped streams leave such sessions
    // behind; collect them now so the recording sees only what the
    // query's start and its first three batches start.
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(500) }
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // the checkpoint directory, its logs, the state store's directories
      // and its schema and operator metadata are all made from here on
      val q = StreamDetectors.blacklistStream(input.toDS(), threshold = 3L)
        .writeStream.format("memory").queryName(s"fork_guard_${System.nanoTime()}")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        (0 until 3).foreach { i =>
          input.addData((1L to 8L).map(u => AdClickEvent(u, u % 3, "p", "c", 1000L + i)))
          q.processAllAvailable()
        }
        rec.stop()
      } finally q.stop()
      val jfr = Files.createTempFile("graft_fork_guard", ".jfr")
      rec.dump(jfr)
      // each start as its program and its first caller outside the JDK and Hadoop
      val programs = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val caller = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
            .find(m => !m.startsWith("java.") && !m.startsWith("org.apache.hadoop."))
          s"${e.getString("command").takeWhile(_ != ' ')} from ${caller.getOrElse("?")}"
        }
      assert(programs.isEmpty, "processes started by the query's start and batches 1-3: " +
        programs.groupBy(identity).map { case (c, n) => s"$c ×${n.size}" }.mkString(", "))
    } finally rec.close()
  }
}
