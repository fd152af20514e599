package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard for four "one way to do it" rules:
  *  - sessions are built only by [[GraftSession]] (no other session
  *    builder chain in `src/main` or `src/test`);
  *  - library operators build native columns with the typed
  *    `GraftFunctions` constructors, never through the session's function
  *    registry (`graft_*` SQL names exist for SQL text only);
  *  - library code takes parameters, not environment variables (only the
  *    entry points and `GraftSession` read the environment);
  *  - temporary directories in `src/main` come from [[Scratch]], which
  *    deletes them with their context. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))

  private def scalaFiles(dir: String): Seq[Path] = {
    val d = root.resolve(dir)
    assert(Files.isDirectory(d), s"$d must exist (tests run from the repository root)")
    val walk = Files.walk(d)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def hits(files: Seq[Path], needle: String): Seq[String] =
    files.filter(f => new String(Files.readAllBytes(f), "UTF-8").contains(needle))
      .map(f => root.relativize(f).toString).sorted

  // split so this file does not match its own needle
  private val builder = "SparkSession" + ".builder"

  test("GraftSession holds the only SparkSession builder") {
    assert(hits(scalaFiles("src/main/scala"), builder) ===
      Seq("src/main/scala/graft/GraftSession.scala"))
    assert(hits(scalaFiles("src/test/scala"), builder) === Nil)
  }

  test("operators, streaming and queries never go through the function registry") {
    val lib = Seq("operators", "streaming", "queries")
      .flatMap(p => scalaFiles(s"src/main/scala/graft/$p"))
    assert(lib.nonEmpty)
    assert(hits(lib, "call_function(\"graft_") === Nil)
    assert(hits(lib, "GraftFunctions.register(") === Nil)
  }

  test("library code never reads the environment") {
    val lib = Seq("operators", "streaming", "queries", "functions", "sources",
      "plans", "model").flatMap(p => scalaFiles(s"src/main/scala/graft/$p"))
    assert(lib.nonEmpty)
    assert(hits(lib, "sys.env") === Nil)
    assert(hits(lib, "System.getenv") === Nil)
  }

  test("Scratch is the only temp-directory site in src/main") {
    val main = scalaFiles("src/main/scala")
    val bridge = "src/main/scala/org/apache/spark/GraftListenerBridge.scala"
    // covers java.nio's createTempDirectory and Spark's createTempDir
    assert(hits(main, "createTempDir") === Seq(bridge))
    assert(hits(main, "shutdownDeletedTempDir(") ===
      Seq("src/main/scala/graft/Scratch.scala", bridge))
  }
}
