package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** DSIR importance weights: target-like raw docs must outscore off-target
  * docs; weights are deterministic and feature counts exact. */
class ImportanceSpec extends SparkSuite {

  import spark.implicits._

  // target vocabulary: physics-ish; off-target: cooking-ish
  private lazy val target = Seq(
    (1L, "quantum field theory of gauge bosons"),
    (2L, "gauge symmetry breaking in quantum systems"),
    (3L, "field equations of general relativity"))
    .toDF("doc_id", "text")

  private lazy val raw = Seq(
    (10L, "quantum gauge field theory notes"),          // target-like
    (11L, "slow roast pork shoulder with garlic"),      // off-target
    (12L, "gauge bosons and field quanta"),             // target-like
    (13L, "chocolate cake recipe with butter and sugar")) // off-target
    .toDF("doc_id", "text")

  test("target-like docs score higher than off-target docs") {
    val w = Importance.importanceWeights(raw, target, "doc_id", "text")
      .select(col("doc_id"), col("log_ratio")).as[(Long, Double)]
      .collect().toMap
    assert(w(10L) > w(11L), s"expected physics > cooking: $w")
    assert(w(12L) > w(13L), s"expected physics > cooking: $w")
  }

  test("n_feats = unigrams + bigrams (2n-1 for an n-token doc)") {
    val n = Importance.importanceWeights(raw, target, "doc_id", "text")
      .select(col("doc_id"), col("n_feats")).as[(Long, Long)].collect().toMap
    // doc 10 has 5 tokens -> 5 + 4 = 9 features
    assert(n(10L) === 9L)
    assert(n(13L) === 13L) // 7 tokens -> 7 + 6
  }

  test("deterministic across evaluations") {
    val a = Importance.importanceWeights(raw, target, "doc_id", "text")
      .select(col("doc_id"), col("log_ratio")).as[(Long, Double)].collect().toMap
    val b = Importance.importanceWeights(raw, target, "doc_id", "text")
      .select(col("doc_id"), col("log_ratio")).as[(Long, Double)].collect().toMap
    assert(a === b)
  }

  test("native graft_feat_buckets ≡ ngramFeatures + featBucket (bit parity)") {
    val texts = (raw.select(col("text")) union target.select(col("text")))
      .union(Seq("x", "", "a  b", "tok1 tok2 tok3 tok4").toDF("text"))
    val hof = texts
      .select(explode(Importance.ngramFeatures(col("text"))).as("f"))
      .select(Importance.featBucket(col("f"), 256).cast("int").as("b"))
      .groupBy("b").count().as[(Int, Long)].collect().toMap
    val native = texts
      .select(explode(Importance.featBuckets(col("text"), 256)).as("b"))
      .groupBy("b").count().as[(Int, Long)].collect().toMap
    assert(native === hof, "bucket multisets must be identical")
  }

  test("ngramFeatures of a single-token doc is just the unigram") {
    val f = Seq(("x")).toDF("text")
      .select(Importance.ngramFeatures(col("text")).as("f"))
      .as[Seq[String]].head()
    assert(f === Seq("x"))
  }
}
