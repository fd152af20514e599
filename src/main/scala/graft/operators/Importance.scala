package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * DSIR-style importance weighting ("Data Selection for Language Models
 * via Importance Resampling", Xie et al. 2023): score every document of a
 * RAW pool by how much more likely its hashed n-gram features are under a
 * TARGET distribution (a trusted high-quality slice) than under the raw
 * pool itself:
 *
 *   w(doc) = Σ_{g ∈ feats(doc)} [ ln p̂_t(b(g)) − ln p̂_r(b(g)) ]
 *
 * with unigram+bigram word features hashed into `buckets` counting
 * buckets and Laplace-smoothed bucket probabilities
 * p̂(b) = (cnt_b + 1) / (N + buckets). Downstream, resample the raw pool
 * by the weight (top-mass cut or Gumbel top-k); the deterministic gates
 * in [[Sampling]] compose for the keep decision.
 *
 * Scale design: the feature explode is map-side; both bucket-count
 * aggregations partial-aggregate down to ≤`buckets` rows before their
 * exchange; the weight table (≤`buckets` rows — a model parameter, not
 * data) broadcasts back onto the exploded raw side; the only corpus-scale
 * exchange is the final per-doc sum, which map-side combines. Bucketing
 * uses md5 (engine-portable → exact DuckDB oracle); at production scale
 * swap [[featBucket]] for xxhash64 — one fewer hash pass, same layout.
 */
object Importance {

  /** Unigram + bigram feature strings of a whitespace-tokenized text
    * (the DSIR paper's hashed n-gram feature space, n ≤ 2). HOF form —
    * CodegenFallback; kept as the bit-parity reference for
    * [[featBuckets]], which the operators use. */
  def ngramFeatures(text: Column): Column = {
    val toks = split(text, " ")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** Stable feature bucket in [0, buckets): first 32 md5 bits, mod. */
  def featBucket(f: Column, buckets: Int): Column =
    conv(substring(md5(f), 1, 8), 16, 10).cast("long") % buckets

  /** All unigram+bigram buckets of a doc in one native codegen'd pass
    * ([[graft.functions.FeatBucketsExpr]]) — bit-identical to
    * `ngramFeatures` + `featBucket` (spec-pinned), ~10× faster (the HOF
    * bigram build is CodegenFallback). */
  def featBuckets(text: Column, buckets: Int): Column =
    GraftFunctions.featBuckets(text, 2, buckets)

  /**
   * Per-document importance weights of `raw` against `target`. Emits one
   * row per raw doc: (idCol, n_feats, log_ratio) — log_ratio is the
   * summed log-likelihood ratio (higher = more target-like).
   */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val rawF = raw
      .select(col(idCol).as("_id"),
        explode(featBuckets(col(textCol), buckets)).as("_b"))
    val tgtF = target
      .select(explode(featBuckets(col(textCol), buckets)).as("_b"))
    val tCnt = tgtF.groupBy(col("_b")).agg(count(lit(1)).as("_tc"))
    val rCnt = rawF.groupBy(col("_b")).agg(count(lit(1)).as("_rc"))
    val totals = rCnt.agg(sum(col("_rc")).as("_rtot"))
      .crossJoin(tCnt.agg(coalesce(sum(col("_tc")), lit(0L)).as("_ttot")))
    // Weight for every bucket the raw pool touches; buckets absent from
    // the target get the smoothed floor 1/(ttot + buckets).
    val weights = rCnt.join(tCnt, Seq("_b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("_b"),
        (log((coalesce(col("_tc"), lit(0L)) + 1).cast("double") /
             (col("_ttot") + buckets).cast("double")) -
         log((col("_rc") + 1).cast("double") /
             (col("_rtot") + buckets).cast("double"))).as("_w"))
    rawF.join(broadcast(weights), "_b")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("_w")).as("log_ratio"))
      .select(col("_id").as(idCol), col("n_feats"), col("log_ratio"))
  }

  /**
   * Dense bucket→weight array for map-only scoring (the streaming-ingest
   * form [[graft.streaming.StreamPipeline.importanceGateStream]] inlines
   * it as a literal). Buckets unseen in either pool get the smoothed
   * floor weight. The collect is bounded by `buckets` (a model
   * parameter, not data) — same driver-side budget as the IVF centroid
   * literals.
   */
  def bucketWeightArray(raw: DataFrame, target: DataFrame,
                        textCol: String, buckets: Int = 1024): Array[Double] = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    def counts(df: DataFrame): Map[Int, Long] =
      df.select(explode(featBuckets(col(textCol), buckets)).as("_b"))
        .groupBy(col("_b")).agg(count(lit(1)).as("_c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rc = counts(raw)
    val tc = counts(target)
    val rtot = rc.values.sum.toDouble
    val ttot = tc.values.sum.toDouble
    Array.tabulate(buckets) { b =>
      math.log((tc.getOrElse(b, 0L) + 1.0) / (ttot + buckets)) -
        math.log((rc.getOrElse(b, 0L) + 1.0) / (rtot + buckets))
    }
  }
}
