package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.{Dedup, Importance, Joins, Similarity, TextAnalysis}
import graft.streaming.StreamPipeline

/** Operators build native columns directly: on a fresh session with no
  * `graft_*` function registered, each converted operator family returns
  * the same rows (and schema) as on a session where the SQL names are
  * registered, and leaves the fresh session's function registry as it
  * found it. The typed constructors equal their SQL-name forms. */
class NativeColumnsSpec extends SparkSuite {

  private val names = GraftFunctions.all.map(_._1)

  private val texts = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old mill pond", "s1"),
    (2L, "the quick brown fox jumps over the sleepy dog near the old mill pond", "s1"),
    (3L, "columnar engines scan petabytes with vectorized adaptive execution", "s1"),
    (4L, "the quick brown fox jumps over the lazy dog near the old mill pond", "s2"),
    (5L, "sourdough needs flour water salt starter and a long patient proof", "s2"))

  private def docs(s: SparkSession): DataFrame =
    s.createDataFrame(texts).toDF("doc_id", "text", "source")

  private def vectors(s: SparkSession): DataFrame =
    s.createDataFrame((0 until 24).map { i =>
      (i.toLong, Array.tabulate(6)(d => math.sin(i * 1.7 + d * 0.9) + (i % 3) * 0.5))
    }).toDF("vec_id", "embedding")

  /** Each converted family, one call per entry, built against session `s`. */
  private val families: Seq[(String, SparkSession => DataFrame)] = Seq(
    "Dedup.minhashLshPairs" -> (s =>
      Dedup.minhashLshPairs(docs(s), "doc_id", "text", tau = 0.3)),
    "Dedup.simhashPairs" -> (s =>
      Dedup.simhashPairs(docs(s), "doc_id", "text", maxHamming = 3)),
    "Dedup.jaccardPairs" -> (s =>
      Dedup.jaccardPairs(docs(s), "doc_id", "text", "source", 0.3)),
    "Dedup.duplicatedSpans" -> (s =>
      Dedup.duplicatedSpans(docs(s), "doc_id", "text", n = 4)),
    "Dedup.editDistancePairsNeighborhood" -> (s =>
      Dedup.editDistancePairsNeighborhood(
        s.createDataFrame(Seq((1L, "alpha", "b"), (2L, "alphb", "b"), (3L, "alphax", "b")))
          .toDF("id", "name", "blk"), "id", "name", "blk", maxDist = 1)),
    "Similarity.bruteForceTopK (dot)" -> (s =>
      Similarity.bruteForceTopK(vectors(s), "vec_id", "embedding",
        col("vec_id") % 6 === 0, k = 3)),
    "Similarity.lshTopK" -> (s =>
      Similarity.lshTopK(vectors(s), "vec_id", "embedding",
        col("vec_id") % 6 === 0, k = 3, planes = 2)),
    "Similarity.randomProjection" -> (s =>
      Similarity.randomProjection(vectors(s), "vec_id", "embedding", outDim = 3)),
    "Joins.bloomSemiJoin" -> (s =>
      Joins.bloomSemiJoin(s.range(500).selectExpr("id % 70 as k", "id as v"), "k",
        s.range(20).selectExpr("id * 3 as dk"), "dk",
        expectedItems = 20L, numBits = 1L << 8)),
    "Importance.importanceWeights" -> (s =>
      Importance.importanceWeights(docs(s), docs(s).filter(col("source") === "s2"),
        "doc_id", "text", buckets = 64)),
    "TextAnalysis.contaminationCheck" -> (s =>
      TextAnalysis.contaminationCheck(docs(s), docs(s).filter(col("doc_id") === 5L),
        "doc_id", "text", 3)),
    "StreamPipeline.decontaminateStream" -> (s =>
      StreamPipeline.decontaminateStream(docs(s), "text",
        docs(s).filter(col("doc_id") === 3L), "text", 3)))

  private lazy val fresh = spark.newSession()

  /** Runs `f` with the fresh session (nothing registered) as the active
    * one; returns its result and the `graft_*` names it left registered,
    * which are dropped again so the next call starts clean. */
  private def onFreshSession[T](f: SparkSession => T): (T, Seq[String]) = {
    assert(registered(fresh).isEmpty)
    val out =
      try {
        SparkSession.setActiveSession(fresh)
        f(fresh)
      } finally SparkSession.setActiveSession(spark)
    val leaked = registered(fresh)
    leaked.foreach(n => fresh.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    (out, leaked)
  }

  private def registered(s: SparkSession): Seq[String] =
    names.filter(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("operators run on a fresh session with nothing registered and register nothing") {
    GraftFunctions.register(spark)
    val leaks = families.flatMap { case (name, build) =>
      val ((rows, schema), leaked) = onFreshSession { s =>
        val df = build(s)
        (sortedRows(df), df.schema)
      }
      val ref = build(spark)
      assert(schema === ref.schema, name)
      assert(rows === sortedRows(ref), name)
      assert(rows.nonEmpty, s"$name: the fixture must produce rows")
      Some(leaked).filter(_.nonEmpty).map(fs => s"$name registered ${fs.mkString(", ")}")
    }
    assert(leaks.isEmpty, "operators must leave the caller's function registry untouched")
  }

  test("typed constructors equal their graft_* SQL forms") {
    GraftFunctions.register(spark)
    val text = col("text")
    val v = col("embedding")
    val hashSet = sort_array(array(xxhash64(text), lit(1L)))
    val constructors: Seq[(Column, Column)] = Seq(
      GraftFunctions.minhashSignature(text, 3, 8) ->
        call_function("graft_minhash_signature", text, lit(3), lit(8)),
      GraftFunctions.ngramHashes(text, 2, distinct = true) ->
        call_function("graft_ngram_hashes", text, lit(2), lit(true)),
      GraftFunctions.ngramHashes(text, 2, distinct = false) ->
        call_function("graft_ngram_hashes", text, lit(2), lit(false)),
      GraftFunctions.featBuckets(text, 2, 64) ->
        call_function("graft_feat_buckets", text, lit(2), lit(64)),
      GraftFunctions.simhash64(text) -> call_function("graft_simhash64", text),
      GraftFunctions.deletionHashes(text, 1) ->
        call_function("graft_deletion_hashes", text, lit(1)),
      GraftFunctions.jaccardSorted(hashSet, array(lit(1L))) ->
        call_function("graft_jaccard_sorted", hashSet, array(lit(1L))),
      GraftFunctions.dot(v, v) -> call_function("graft_dot", v, v),
      GraftFunctions.lshBucket(v, 4) -> call_function("graft_lsh_bucket", v, lit(4)),
      GraftFunctions.randomProject(v, 3) -> call_function("graft_random_project", v, lit(3)))
    val in = docs(spark).join(vectors(spark), col("doc_id") === col("vec_id"))
    constructors.zipWithIndex.foreach { case ((typed, sqlName), i) =>
      val (got, leaked) = onFreshSession { s =>
        val freshIn = docs(s).join(vectors(s), col("doc_id") === col("vec_id"))
        val df = freshIn.select(col("doc_id"), typed.as("x"))
        (df.schema, sortedRows(df))
      }
      assert(leaked.isEmpty)
      val want = in.select(col("doc_id"), sqlName.as("x"))
      assert(got === (want.schema, sortedRows(want)), s"constructor #$i")
    }
    // the aggregate and its probe
    def members(s: SparkSession, bloom: Column, contains: (Column, Column) => Column): Seq[Long] = {
      val keys = s.range(40).select((col("id") * 7).as("k"))
      s.range(300).filter(contains(keys.agg(bloom).scalar(), xxhash64(col("id"))))
        .collect().map(_.longValue).sorted.toSeq
    }
    val (typedRows, leaked) = onFreshSession(s => members(s,
      GraftFunctions.bloomAgg(xxhash64(col("k")), 40L, 1L << 10),
      GraftFunctions.bloomContains))
    assert(leaked.isEmpty)
    val sqlRows = members(spark,
      call_function("graft_bloom_agg", xxhash64(col("k")), lit(40L), lit(1L << 10)),
      (b, x) => call_function("graft_bloom_contains", b, x))
    assert(typedRows === sqlRows)
    assert((0L until 40L).map(_ * 7).forall(typedRows.contains),
      "a bloom filter has no false negatives")
  }
}
