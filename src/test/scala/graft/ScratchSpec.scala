package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index gates keep their directories under their
  * context's scratch root ([[Scratch]]), and stopping the context
  * deletes it. Not a SparkSuite: the test stops the shared session to
  * get a context of its own, and the next suite builds a fresh one. */
class ScratchSpec extends AnyFunSuite {

  private val tmp = Paths.get(sys.props("java.io.tmpdir"))

  private def list(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  private def graftEntries(): Set[String] = list(tmp).filter(_.startsWith("graft_"))

  private def session() =
    GraftSession.local(cpus = 4, conf = Map("spark.sql.adaptive.enabled" -> "false"))

  test("persisted-index gates leave no temp directory once their context stops") {
    // the gates below read documents(doc_id, text) only
    val data = Files.createTempDirectory("scratch-spec")
    val shared = session()
    import shared.implicits._
    (0L until 64L).map(i => (i, s"doc $i dup vector key w${i % 7} v${i % 11}"))
      .toDF("doc_id", "text").write.parquet(s"$data/documents.parquet")
    // a fresh context, so no index is cached from an earlier suite
    shared.stop()
    val before = graftEntries()
    val s = session()
    try {
      assert(SparkEntry.queries.size === 178)
      assert(graftEntries() === before, "loading the gate table made a directory")
      val gates = Seq("bm25_search_indexed", "bm25_search_appended",
        "bm25_search_compacted", "text_cosine_inc_uncapped")
      gates.foreach(g => SparkEntry.queries(g)(s, data.toString).collect())
      val added = graftEntries() -- before
      assert(added.size === 1 && added.head.startsWith("graft_scratch-"),
        s"one scratch root expected, got $added")
      assert(list(tmp.resolve(added.head)).map(_.takeWhile(_ != '-')) ===
        Set("bm25_idx", "bm25_app", "bm25_cmp", "cos_store"))
    } finally s.stop()
    assert(graftEntries() === before)
    val walk = Files.walk(data)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
    finally walk.close()
  }
}
