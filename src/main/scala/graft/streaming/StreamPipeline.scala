package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.GraftFunctions
import graft.operators.{Dedup, FreqSketch, Importance, Relevance, Similarity, TextAnalysis}
import graft.sources.VersionedTable

/**
 * Streaming forms of the training-data-pipeline operators — the ingest-time
 * path: documents arriving as a stream are quality-filtered and
 * decontaminated BEFORE they ever land in the corpus, instead of by a later
 * batch sweep.
 *
 * Both operators are stateless map-only transforms, so they run in any
 * output mode, add no stream state, and keep the micro-batch plan inside
 * whole-stage codegen — the same 100 TB-shape guarantees as their batch
 * twins ([[graft.operators.TextAnalysis]]).
 */
object StreamPipeline {

  /**
   * Streaming rule filter: the C4/Gopher keep/drop decision applied at
   * ingest. Identical flags/thresholds to the batch
   * [[TextAnalysis.withRuleFilter]] (same expressions — the stream is just
   * a different source); `keepOnly = true` drops rejected docs in-stream.
   */
  def ruleFilterStream(docs: DataFrame, textCol: String,
                       keepOnly: Boolean = true): DataFrame = {
    val flagged = TextAnalysis.withRuleFilter(docs, textCol)
    if (keepOnly) flagged.filter(col("keep") === 1) else flagged
  }

  /**
   * Streaming decontamination: per-document overlap with a benchmark
   * n-gram set. The benchmark is a bounded model input (eval suites are
   * MBs while the corpus is unbounded), so its distinct gram fingerprints
   * are collected ONCE at query-construction time. No stream-static
   * join, no state; the per-batch plan is a pure projection in either
   * regime. (Same bounded-collect pattern as the IVF centroid literals —
   * model parameters may drive to the driver; data never does.)
   *
   * Two regimes, same two-tier design the BPE segmenter measured and
   * fenced (`SegmentBench` → `bpeSegmentStream`), same verdict
   * (`DecontamBench`, PLANS.md round 10): the DEFAULT is the broadcast
   * form for EVERY benchmark size (`inlineGramLimit = 0`) — the sorted
   * set ships once per executor as a TorrentBroadcast probed by a
   * codegen'd binary-search expression
   * ([[graft.functions.GramOverlapCountExpr]]), flat ~0.2-0.3 s/batch
   * from 1k through 500k grams. The literal `array_intersect` form
   * (`inlineGramLimit >= |grams|`) re-serializes the set into every
   * micro-batch's plan and LOSES at every size measured — 0.36 s/batch
   * at 1k grams, 10 s at 500k — so it exists only as the opt-in
   * zero-broadcast fallback. Regime equivalence is pinned in
   * `StreamPipelineSpec`.
   *
   * Emits every input column plus (n_grams, n_contaminated,
   * contamination_frac); filter on the frac downstream to quarantine leaks.
   */
  def decontaminateStream(docs: DataFrame, textCol: String,
                          benchmark: DataFrame, benchTextCol: String,
                          n: Int = 3,
                          inlineGramLimit: Int = 0): DataFrame = {
    val benchGrams: Array[Long] = benchmark
      .select(explode(GraftFunctions.ngramHashes(col(benchTextCol), n, distinct = true)).as("g"))
      .distinct().orderBy("g")
      .collect().map(_.getLong(0))
    val grams = GraftFunctions.ngramHashes(col(textCol), n, distinct = true)
    val overlap: Column =
      if (benchGrams.length <= inlineGramLimit)
        size(array_intersect(col("_grams"), typedLit(benchGrams))).cast("long")
      else {
        val setBc = docs.sparkSession.sparkContext
          .broadcast(new graft.functions.GramSet(benchGrams))
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.GramOverlapCountExpr(
            org.apache.spark.sql.GraftColumnBridge.expression(col("_grams")),
            setBc))
      }
    docs
      .withColumn("_grams", grams)
      .withColumn("n_grams", size(col("_grams")).cast("long"))
      .withColumn("n_contaminated", overlap)
      .drop("_grams")
      .withColumn("contamination_frac",
        when(col("n_grams") > 0,
          col("n_contaminated").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /**
   * Streaming DSIR gate: score arriving documents by target-likeness
   * using a weight model fit ONCE on static raw/target pools
   * ([[Importance.bucketWeightArray]] — a ≤`buckets`-entry model
   * parameter, inlined as a literal array). The per-batch plan is a pure
   * projection — hash each unigram/bigram, look its bucket weight up in
   * the literal, sum — no stream-static join, no state, any output mode.
   * `minLogRatio` drops below-threshold docs in-stream (the
   * importance-resampling keep decision at ingest).
   *
   * Emits every input column plus (n_feats, log_ratio). The batch twin
   * for the same scores is [[Importance.importanceWeights]] (equivalence
   * pinned in `StreamPipelineSpec` — same buckets, same smoothing).
   */
  def importanceGateStream(docs: DataFrame, textCol: String,
                           raw: DataFrame, target: DataFrame,
                           staticTextCol: String,
                           buckets: Int = 1024,
                           minLogRatio: Option[Double] = None): DataFrame = {
    val w = Importance.bucketWeightArray(raw, target, staticTextCol, buckets)
    val bks = Importance.featBuckets(col(textCol), buckets)
    val scored = docs
      .withColumn("n_feats", size(bks).cast("long"))
      .withColumn("log_ratio",
        aggregate(
          transform(bks, b => element_at(typedLit(w.toSeq), b + 1)),
          lit(0.0), (acc, x) => acc + x))
    minLogRatio.fold(scored)(t => scored.filter(col("log_ratio") >= t))
  }

  /**
   * Streaming heavy-terms: the Misra–Gries sketch as WINDOWED STREAM
   * STATE — per event-time window, the aggregation state is one
   * ≤k-entry map (bounded regardless of vocabulary growth), updated
   * incrementally per micro-batch exactly like any algebraic aggregate
   * (the Aggregator's merge is the state-combine). Emits one row per
   * (window, term) from the sketch; update output mode re-emits a
   * window's current sketch as batches arrive. The n/(k+1)
   * heavy-hitter guarantee holds across micro-batch merge order
   * (FreqSketchSpec pins it for arbitrary merge trees).
   */
  def heavyTermsStream(docs: DataFrame, tsCol: String, textCol: String,
                       watermarkDelay: String, windowSize: String,
                       k: Int): DataFrame =
    docs
      .eventTimeWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(window(col(tsCol), windowSize))
      .agg(FreqSketch.sketch(col("term"), k).as("_sk"))
      .select(col("window"), explode(col("_sk")).as(Seq("term", "est")))

  /**
   * Streaming incremental dedup — the ingest twin of
   * [[graft.operators.Dedup.incrementalDedup]]: arriving documents are
   * dropped when their content fingerprint (a) already exists in the
   * standing corpus, or (b) was already seen in the stream within the
   * watermark horizon. (a) is a stream-static LEFT ANTI join against the
   * corpus's DISTINCT 16-byte fingerprints (append-mode-safe, re-planned
   * per micro-batch so a refreshed corpus table is picked up); (b) is
   * watermark-bounded `dropDuplicatesWithinWatermark` state keyed on the
   * fingerprint — bodies never enter the state store or any exchange.
   */
  def incrementalDedupStream(stream: DataFrame, tsCol: String,
                             textCol: String, watermarkDelay: String,
                             corpus: DataFrame,
                             corpusTextCol: String): DataFrame = {
    val seen = corpus.select(md5(col(corpusTextCol)).as("_corpus_fp")).distinct()
    stream
      .withColumn("_fp", md5(col(textCol)))
      .eventTimeWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_fp")
      .join(seen, col("_fp") === col("_corpus_fp"), "left_anti")
      .drop("_fp")
  }

  /**
   * Streaming SEMANTIC ingest — the SemDeDup twin of
   * [[incrementalDedupStream]]: each micro-batch is scored with
   * [[Similarity.semanticDedupIncremental]] against the standing kept
   * corpus (a [[VersionedTable]] holding every earlier keeper's row),
   * and the batch's survivors are upserted as the next version, so
   * later batches dedup against them. Near-dups WITHIN a batch resolve
   * by the keep-first (lowest-id) rule; the first batch (empty table)
   * degenerates to the batch [[Similarity.semanticDedup]].
   *
   * The quantizer is trained ONCE, on the first non-empty batch, and
   * persisted at `statePath/_quantizer`; every later batch loads it and
   * runs the ASSIGNED ingest path — no corpus re-assignment and no
   * per-batch quantizer drift (cluster boundaries never move under
   * earlier keep decisions). Keepers are stored WITH their `cid`, so the
   * per-batch cost is assigning the batch map-side plus the
   * cluster-keyed joins.
   *
   * `foreachBatch` serializes micro-batches, so the final table is
   * EXACTLY the left fold of `semanticDedupIncrementalAssigned` over the
   * batches in arrival order under the frozen quantizer — the spec pins
   * stream ≡ fold. Ids must be unique across the stream (the corpus
   * contract); the upsert's repeated-key check turns a violation into a
   * loud failure.
   */
  def semanticIngestStream(stream: DataFrame, idCol: String, vecCol: String,
                           tau: Double, statePath: String,
                           nCentroids: Int = 16): DataStreamWriter[Row] =
    stream.twinWriteStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val corpusPath = s"$statePath/corpus"
          val qPath = s"$statePath/_quantizer"
          val decisions = VersionedTable.read(spark, corpusPath) match {
            case Some(c) =>
              val cents = Similarity.centroidsFromDF(spark.read.parquet(qPath))
              Similarity.semanticDedupIncrementalAssigned(
                batch, c, idCol, vecCol, cents, tau)
            case None =>
              val cents = Similarity.trainQuantizer(
                batch, idCol, vecCol, nCentroids)
              Similarity.centroidsToDF(cents, spark)
                .repartition(1).write.mode("overwrite").parquet(qPath)
              Similarity.semanticDedupWithQuantizer(
                batch, idCol, vecCol, cents, tau)
          }
          val kept = batch.join(
            decisions.filter(col("keep"))
              .select(col("id").as(idCol), col("cid")),
            Seq(idCol))
          if (!kept.isEmpty) {
            VersionedTable.upsert(spark, corpusPath, kept, Seq(idCol))
            ()
          }
        }
    }

  /**
   * Greedy keep-lowest-id survivors resolution shared by the ingest
   * screens' `survivorsOnly` mode ([[minhashIngestStream]] /
   * [[cosineIngestStream]]): pairs `(id_a < id_b, simCol)` sweep in
   * ascending id_b — b drops iff the pair is exactly TRANSITIVE
   * (`simCol >= 1.0`: identical normalized evidence, so b's own matches
   * pass through its dropper) or its id_a SURVIVED. Ids must be
   * long-castable and ingest-ordered (id_a's fate settles before any
   * pair names it — the incremental contract).
   *
   * Two tiers (r14, VERDICT r13 #3). At or below `collectLimit` pair
   * rows the sweep collects to the driver — micro-batch-sized in the
   * common case, the tier every round since r11 ran. Above it — the
   * match-amplified batch: ONE doc ≥ tau against many corpus keepers
   * multiplies the list past the batch's own size — it runs as an
   * iterate-to-fixpoint FRAME sweep that never ships the pair list to
   * the driver:
   *  - round 0 settles every transitive id_b as DROPPED and every id
   *    appearing only as id_a (store keepers, batch minima — nothing
   *    can drop them) as KEPT;
   *  - each round joins the still-unsettled pairs to the settled
   *    statuses and decides b DROPPED when ANY of its pairs carries a
   *    kept a, KEPT when ALL of them carry dropped a's.
   * `id_a < id_b` makes the pair graph a DAG in id order, so the
   * smallest unsettled b settles every round (its a's are all smaller,
   * hence settled by induction) — termination in at most chain-depth
   * rounds, each a pair-list-sized join, `localCheckpoint`ed so the
   * loop's lineage stays flat. Spec-pinned equal to the collected sweep
   * on star / chain / diamond fixtures and random pair graphs.
   *
   * Returns one long column named `idCol` — the drop set.
   */
  private[graft] def survivorDrops(spark: org.apache.spark.sql.SparkSession,
                                   pairs0: DataFrame, simCol: String,
                                   idCol: String,
                                   collectLimit: Long = 100000L): DataFrame = {
    import spark.implicits._
    val pairs = pairs0.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b"),
      (col(simCol) >= 1.0).as("trans")).persist()
    try {
      if (pairs.count() <= collectLimit) {
        val collected = pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
          .sortBy(_._2)
        val dropped = scala.collection.mutable.HashSet.empty[Long]
        collected.foreach { case (a, b, t) =>
          if (t || !dropped.contains(a)) { dropped += b; () }
        }
        dropped.toSeq.toDF(idCol)
      } else {
        val transDropped = pairs.filter(col("trans"))
          .select(col("b").as("id")).distinct()
        val allB = pairs.select(col("b").as("id")).distinct()
        val rootKept = pairs.select(col("a").as("id")).distinct()
          .join(allB, Seq("id"), "left_anti")
        var settled = transDropped.withColumn("dropped", lit(true))
          .unionByName(rootKept.withColumn("dropped", lit(false)))
          .localCheckpoint(true)
        var active = pairs.filter(!col("trans"))
          .join(transDropped.withColumnRenamed("id", "b"), Seq("b"),
            "left_anti")
          .select(col("a"), col("b")).localCheckpoint(true)
        var rounds = 0
        while (!active.isEmpty) {
          rounds += 1
          require(rounds <= 100000,
            "survivor sweep failed to converge — pair ids are not " +
              "ingest-ordered (id_a < id_b must hold)")
          val joined = active.join(
            settled.withColumnRenamed("id", "a"), Seq("a"), "left")
          val decided = joined.groupBy(col("b")).agg(
            count(lit(1)).as("_n"),
            coalesce(sum(when(col("dropped") === false, 1L)
              .otherwise(0L)), lit(0L)).as("_kept"),
            coalesce(sum(when(col("dropped") === true, 1L)
              .otherwise(0L)), lit(0L)).as("_drp"))
            .withColumn("dropped",
              when(col("_kept") >= 1L, lit(true))
                .when(col("_drp") === col("_n"), lit(false)))
            .filter(col("dropped").isNotNull)
            .select(col("b").as("id"), col("dropped"))
            .localCheckpoint(true)
          settled = settled.unionByName(decided).localCheckpoint(true)
          active = active.join(
              decided.withColumnRenamed("id", "b").select(col("b")),
              Seq("b"), "left_anti")
            .localCheckpoint(true)
        }
        settled.filter(col("dropped")).select(col("id").as(idCol))
      }
    } finally { pairs.unpersist(); () }
  }

  /**
   * Streaming MinHash near-dup ingest — the streaming twin of
   * [[graft.operators.Dedup.minhashLshPairsIncremental]], completing the
   * ingest-dedup family ([[incrementalDedupStream]] = exact,
   * [[semanticIngestStream]] = embedding, this = text near-dup).
   *
   * State under `statePath` (both `VersionedTable`-backed, so crashes
   * mid-upsert roll back to the last committed version): `docs` — the
   * kept corpus `(id, text)`; `store` — its keeper signature store. Each
   * micro-batch screens against the store (the corpus is never re-signed
   * and never shuffles; see the batch operator's plan notes), DROPS any
   * batch document with a ≥ tau match to the kept corpus or to a
   * lower-id document of the same batch (the same greedy keep-lowest-id
   * rule as [[semanticIngestStream]] — every such match surfaces as an
   * `id_b` of the pair output), and upserts the survivors into both
   * tables. Requires ingest-order ids (monotone across batches) — the
   * incremental operator's contract. Stream ≡ a left fold of the batch
   * screen, pinned in `StreamPipelineSpec`.
   *
   * Drop policy (DELIBERATE): pairs are computed over the FULL batch,
   * not iterated against survivors, so a doc whose only ≥ tau match was
   * itself dropped is still dropped — e.g. a chain a<b<c with b≈a, c≈b,
   * c≉a keeps only `a`. This keeps exactly the LOCAL MINIMA of the pair
   * graph: strictly more than full connected-component resolution would
   * (which keeps only component minima — [[graft.operators.Dedup.resolveClusters]]'
   * keep-one-per-cluster policy) and strictly less than survivors-only
   * screening. The conservative over-drop relative to survivors-only is
   * the standard near-dup training-corpus trade (transitive chains are
   * usually one mutated lineage); it is what makes the batch-granular
   * fold deterministic in ONE pass — survivors-only needs an
   * iterative within-batch resolution (below). Callers wanting
   * component-exact keeps should run the batch
   * [[graft.operators.Dedup.dedupKeep]] pipeline offline instead.
   *
   * `survivorsOnly` (r11, opt-in): drop a batch document only when its
   * ≥ tau match is itself KEPT — the corpus side always is (the store
   * holds only kept keepers), and within the batch documents resolve
   * greedily in id order, so a chain a<b<c (b≈a, c≈b, c≉a) keeps
   * {a, c} where the default keeps {a} (spec-pinned fixture). For
   * corpora where transitive chains are NOT one mutated lineage, the
   * default's over-drop loses genuinely distinct documents; this flag
   * trades that for the greedy sweep over the batch's near-dup pairs —
   * the two-tier [[survivorDrops]] (r14): a driver collect at
   * micro-batch pair volumes, an iterate-to-fixpoint frame sweep when a
   * match-amplified batch (one doc ≥ tau against many corpus keepers)
   * inflates the list past the driver tier — the same size-gated
   * discipline as `Dedup.resolveClusters`.
   */
  def minhashIngestStream(stream: DataFrame, idCol: String, textCol: String,
                          statePath: String, k: Int = 3, bands: Int = 8,
                          rowsPerBand: Int = 4,
                          tau: Double = 0.7,
                          survivorsOnly: Boolean = false): DataStreamWriter[Row] =
    stream.twinWriteStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val storePath = s"$statePath/store"
          val docsPath = s"$statePath/docs"
          val pairs = VersionedTable.read(spark, storePath) match {
            case Some(store) =>
              // The docs guard tolerates a legacy/tampered state dir; the
              // upsert ORDER below (docs committed before store) is what
              // guarantees crashes can't produce store-without-docs.
              val corpus = VersionedTable.read(spark, docsPath)
                .getOrElse(batch.select(col(idCol), col(textCol)).limit(0))
              Dedup.minhashLshPairsIncremental(batch, store, corpus,
                idCol, textCol, k, bands, rowsPerBand, tau)
            case None => // first batch: the union is the batch itself
              Dedup.minhashLshPairs(batch, idCol, textCol, k, bands,
                rowsPerBand, tau)
          }
          val dropIds: DataFrame =
            if (!survivorsOnly)
              pairs.select(col("id_b").as(idCol)).distinct()
            else
              // Greedy survivors resolution in id order — the shared
              // two-tier sweep ([[survivorDrops]]): driver-collected at
              // micro-batch pair volumes, iterate-to-fixpoint frames on
              // a match-amplified batch. jaccard-1.0 pairs drop id_b
              // UNCONDITIONALLY: identical shingle sets make similarity
              // exactly transitive through id_a, so id_b matches
              // whatever kept doc matched (or kept) id_a — the pair
              // operator only bands KEEPERS, so a dropped-satellite's
              // own corpus pairs are not in the list and must be
              // inherited, not swept.
              survivorDrops(spark, pairs, "jaccard", idCol)
          // persist: the screen plan behind `kept` is consumed by the
          // emptiness probe and both upserts (each evaluating its input
          // more than once) — without this the LSH screen re-runs ~7x
          // per micro-batch
          val kept = batch.join(broadcast(dropIds), Seq(idCol), "left_anti")
            .persist()
          try {
            if (!kept.isEmpty) {
              // Docs BEFORE store: foreachBatch is at-least-once, and a
              // replay against a store already holding the batch's own
              // keepers would self-match every doc and drop it — docs
              // lost, signatures orphaned. With docs first, a replay
              // re-screens against the PRE-batch store (same decisions)
              // and both upserts are idempotent on their keys.
              VersionedTable.upsert(spark, docsPath,
                kept.select(col(idCol), col(textCol)), Seq(idCol))
              // every kept doc's content is novel by construction (exact
              // dups of corpus or lower-id batch docs were dropped), so
              // the store delta is exactly the kept docs' keeper rows
              VersionedTable.upsert(spark, storePath,
                Dedup.minhashStore(kept, idCol, textCol, k, bands,
                  rowsPerBand), Seq("id"))
              ()
            }
          } finally { kept.unpersist(); () }
        }
    }

  /**
   * Streaming robust-quality gate: score arriving documents' features
   * with median/MAD z-scores calibrated ONCE on a static corpus — the
   * ingest-time twin of [[graft.operators.RobustStats.robustOutliers]],
   * which calibrates on its own (batch) input. The calibration frame's
   * per-feature medians and MADs collect at query-construction time
   * (2 bounded one-row aggregates — the [[decontaminateStream]]
   * bounded-model pattern: model parameters may drive to the driver,
   * data never does) and ride the plan as literals, so the per-batch
   * plan is a PURE PROJECTION — no stream-static join, no state, any
   * output mode, whole-stage codegen intact.
   *
   * Same formula and refusal discipline as the batch screen: z =
   * (x − med) / (MAD · 1.4826) rounded to 6 dp; a MAD-0 feature has no
   * robust scale — null z, never flags. Emits every input column plus
   * `<f>_z` per feature, `n_outlier_feats`, `is_outlier`;
   * `keepOnly = true` drops flagged docs in-stream (the quality-filter
   * decision at ingest). Frozen-model caveat: the calibration is a
   * SNAPSHOT — recalibrate when the corpus distribution shifts (the
   * cosineStore/PQ-snapshot discipline; no automatic drift signal here
   * because the gate's own flag RATE is the natural monitor).
   */
  def robustGateStream(stream: DataFrame, featureCols: Seq[String],
                       calibration: DataFrame, zThreshold: Double = 3.5,
                       keepOnly: Boolean = false): DataFrame = {
    require(featureCols.nonEmpty, "gate needs at least one feature")
    require(zThreshold > 0.0, s"zThreshold must be positive: $zThreshold")
    val calib = calibration.select(featureCols.map(f =>
      col(f).cast("double").as(f)): _*)
    val medRow = calib.agg(
      expr(s"percentile(${featureCols.head}, 0.5)").as(featureCols.head),
      featureCols.tail.map(f => expr(s"percentile($f, 0.5)").as(f)): _*)
      .head()
    val meds = featureCols.zipWithIndex.map { case (f, i) =>
      f -> Option(medRow.get(i)).map(_.asInstanceOf[Double])
    }.toMap
    // MAD only over features WITH a median: a null median (empty or
    // all-null calibration column) used to interpolate the literal text
    // 'NaN' into the percentile expression — Spark SQL has no NaN
    // literal, so it parsed as an unresolved column and ONE bad feature
    // threw AnalysisException for the whole gate (ADVICE r13). A
    // null-median feature now skips the aggregate entirely and falls
    // through to the null-z refusal branch below.
    val withMed = featureCols.filter(f => meds(f).isDefined)
    val mads: Map[String, Option[Double]] =
      if (withMed.isEmpty) Map.empty
      else {
        val madExprs = withMed.map(f =>
          expr(s"percentile(abs($f - (${meds(f).get})), 0.5)").as(f))
        val madRow = calib.agg(madExprs.head, madExprs.tail: _*).head()
        withMed.zipWithIndex.map { case (f, i) =>
          f -> Option(madRow.get(i)).map(_.asInstanceOf[Double])
        }.toMap
      }
    val scored = featureCols.foldLeft(stream) { (d, f) =>
      val z = (meds(f), mads.getOrElse(f, None)) match {
        case (Some(m), Some(s)) if s > 0.0 =>
          round((col(f).cast("double") - lit(m))
            / lit(s * graft.operators.RobustStats.NormalConsistency), 6)
        case _ => lit(null).cast("double")
      }
      d.withColumn(s"${f}_z", z)
    }
    val flags = featureCols.map(f =>
      coalesce(abs(col(s"${f}_z")) > zThreshold, lit(false)))
    val out = scored
      .withColumn("n_outlier_feats",
        flags.map(_.cast("int")).reduce(_ + _).cast("long"))
      .withColumn("is_outlier", flags.reduce(_ || _))
    if (keepOnly) out.filter(!col("is_outlier")) else out
  }

  /**
   * Streaming winsorization: clamp arriving documents' features into a
   * [pLo, pHi] band calibrated ONCE on a static corpus — the ingest
   * companion of [[robustGateStream]] (flagging) and the streaming twin
   * of [[graft.operators.RobustStats.winsorize]] (which calibrates on
   * its own batch input). Same bounded-model pattern: one exact
   * cut-point row collects at query construction and rides the plan as
   * literals — per-batch pure projection, no state, any output mode.
   * Same value discipline as the batch form: clamped values rounded to
   * 6 dp, nulls stay null (the explicit guard — Spark least/greatest
   * skip nulls), emitted as `<f>_w` next to every input column. The
   * calibration is a snapshot; recalibrate when the corpus shifts.
   */
  def winsorizeStream(stream: DataFrame, featureCols: Seq[String],
                      calibration: DataFrame,
                      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(featureCols.nonEmpty, "winsorize needs at least one feature")
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      s"need 0 <= pLo < pHi <= 1: ($pLo, $pHi)")
    val calib = calibration.select(featureCols.map(f =>
      col(f).cast("double").as(f)): _*)
    val cutExprs = featureCols.flatMap(f => Seq(
      expr(s"percentile($f, $pLo)").as(s"_lo_$f"),
      expr(s"percentile($f, $pHi)").as(s"_hi_$f")))
    val cutRow = calib.agg(cutExprs.head, cutExprs.tail: _*).head()
    val cuts = featureCols.flatMap { f =>
      Seq(s"_lo_$f", s"_hi_$f").map(c =>
        c -> Option(cutRow.getAs[Any](c)).map(_.asInstanceOf[Double]))
    }.toMap
    featureCols.foldLeft(stream) { (d, f) =>
      val w = (cuts(s"_lo_$f"), cuts(s"_hi_$f")) match {
        case (Some(lo), Some(hi)) =>
          when(col(f).isNull, lit(null)).otherwise(
            round(least(greatest(col(f).cast("double"), lit(lo)),
              lit(hi)), 6))
        case _ => lit(null).cast("double") // empty/all-null calibration
      }
      d.withColumn(s"${f}_w", w)
    }
  }

  /**
   * Streaming APSS ingest — the all-pairs-TF-IDF-cosine twin of
   * [[minhashIngestStream]], completing the ingest-screen family for the
   * WEIGHTED text measure (exact fp = [[incrementalDedupStream]], set
   * overlap = minhash, embedding = [[semanticIngestStream]], this =
   * TF-IDF cosine): each micro-batch screens against the standing
   * frozen-idf keeper store ([[graft.operators.Relevance.cosineStore]])
   * via [[graft.operators.Relevance.cosinePairsIncremental]], DROPS
   * batch documents with a ≥ tau cosine match to the kept corpus or to a
   * lower-id document of the same batch, and appends the survivors'
   * NOVEL keepers to the store under the frozen model
   * ([[graft.operators.Relevance.cosineStoreDelta]] — build-time n0/df
   * stay authoritative, unseen terms ride at df = 1).
   *
   * State under `statePath` (VersionedTable-backed, docs committed
   * before store — the [[minhashIngestStream]] at-least-once replay
   * argument): `store` — keeper postings keyed (id, term); `docs` — the
   * kept corpus (id, text), the rebuild basis. The FIRST non-empty batch
   * freezes the model: it screens with the batch
   * [[graft.operators.Relevance.cosinePairs]] over (already-kept docs ∪
   * the batch's novel ids) and the survivors' store IS the frozen idf
   * snapshot (the [[semanticIngestStream]] first-batch contract: the
   * model trains once, never re-trains). A window whose kept corpus is
   * DEGENERATE — a single distinct content, every idf 0 — encodes to
   * nothing: the store stays absent, the docs still commit, and the next
   * batch attempts the freeze again over the accumulated docs (which is
   * why the screen unions them — content kept before the freeze still
   * dedups later arrivals).
   *
   * Drift discipline (the PqDrift trigger pattern): the frozen idf goes
   * stale as the corpus shifts, so per batch the stream appends one
   * (batch_id, unseen_frac) row to `statePath/_drift` —
   * [[graft.operators.Relevance.cosineStoreUnseenFrac]] of the batch
   * against the PRE-batch store. Rebuild OFFLINE when it exceeds the
   * deployment's tolerance: [[graft.operators.Relevance.cosineStore]]
   * over the `docs` table into a FRESH statePath — an upsert cannot
   * retract re-weighted rows, so a rebuild is a new snapshot, not a
   * merge. The ledger is append-only and foreachBatch is at-least-once:
   * readers dedupe on batch_id.
   *
   * Drop policy and `survivorsOnly` exactly as [[minhashIngestStream]];
   * in the survivors sweep, `cos_r >= 1.0` plays the jaccard-1.0
   * transitive role (under ONE frozen model a 1.0 pair means identical
   * normalized vectors, so the dropped doc's matches pass through its
   * dropper). Requires ingest-order ids (monotone across batches) — the
   * incremental operator's contract. Stream ≡ a left fold of the batch
   * screen + keep-filter, pinned in `StreamPipelineSpec`.
   */
  def cosineIngestStream(stream: DataFrame, idCol: String, textCol: String,
                         statePath: String, tau: Double, maxDf: Long = 0L,
                         survivorsOnly: Boolean = false): DataStreamWriter[Row] =
    stream.twinWriteStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val storePath = s"$statePath/store"
          val docsPath = s"$statePath/docs"
          val storeOpt = VersionedTable.read(spark, storePath)
          // drift signal vs the PRE-batch model (frames stay pinned on
          // the version read here; later upserts write a NEW version)
          storeOpt.foreach { st =>
            val frac = Relevance.cosineStoreUnseenFrac(
              st, batch, idCol, textCol)
            import spark.implicits._
            Seq((batchId, frac)).toDF("batch_id", "unseen_frac")
              .write.mode("append").parquet(s"$statePath/_drift")
          }
          // pre-freeze path: kept-but-unfrozen docs (degenerate earlier
          // windows, or the crash window between the docs and store
          // commits) join the screen so their content still dedups the
          // batch; already-committed ids leave the batch immediately
          // (an at-least-once replay re-delivers them)
          val prevDocs = storeOpt match {
            case Some(_) => None
            case None => VersionedTable.read(spark, docsPath)
              .map(_.select(col(idCol), col(textCol)))
          }
          val fresh = prevDocs match {
            case Some(prev) => batch.join(
              prev.select(col(idCol)), Seq(idCol), "left_anti")
            case None => batch
          }
          val pairsAll = storeOpt match {
            case Some(st) => Relevance.cosinePairsIncremental(
              fresh, st, idCol, textCol, tau, maxDf)
            case None => Relevance.cosinePairs(
              prevDocs.fold(fresh.select(col(idCol), col(textCol)))(
                _.unionByName(fresh.select(col(idCol), col(textCol)))),
              idCol, textCol, tau, maxDf)
          }
          // only batch documents are screen SUBJECTS: a pre-freeze
          // re-model could pair two committed docs — committed keeps
          // are never retracted (ids are ingest-ordered, so the batch
          // side of any cross pair is always id_b)
          val pairs = pairsAll.join(
            broadcast(fresh.select(col(idCol).as("id_b"))),
            Seq("id_b"), "left_semi")
          val dropIds: DataFrame =
            if (!survivorsOnly)
              pairs.select(col("id_b").as(idCol)).distinct()
            else
              // the shared two-tier sweep ([[survivorDrops]]): cos 1.0
              // plays the jaccard-1.0 transitive role — under ONE frozen
              // model a 1.0 pair means identical normalized vectors, so
              // the dropped doc's matches pass through its dropper
              survivorDrops(spark, pairs, "cos_r", idCol)
          // persist: the screen plan behind `kept` feeds the emptiness
          // probe, the docs upsert, and the store encode
          val kept = fresh.join(broadcast(dropIds), Seq(idCol), "left_anti")
            .persist()
          try {
            if (!kept.isEmpty) {
              VersionedTable.upsert(spark, docsPath,
                kept.select(col(idCol), col(textCol)), Seq(idCol))
              ()
            }
            val store = storeOpt match {
              case Some(st) => Relevance.cosineStoreDelta(
                st, kept, idCol, textCol)
              case None =>
                // freeze over the FULL kept corpus (pre-freeze docs +
                // this batch's survivors); a degenerate corpus encodes
                // to nothing and the store stays absent until a later
                // window breaks the degeneracy
                Relevance.cosineStore(
                  prevDocs.fold(kept.select(col(idCol), col(textCol)))(
                    _.unionByName(kept.select(col(idCol), col(textCol)))),
                  idCol, textCol)
            }
            if (!store.isEmpty) {
              VersionedTable.upsert(spark, storePath, store, Seq("id", "term"))
              ()
            }
          } finally { kept.unpersist(); () }
        }
    }

  /**
   * Streaming BM25 ingest — exact index growth at ingest time,
   * completing the foreachBatch ingest family (exact fp / minhash /
   * semantic / cosine all have stream drivers; BM25 gained exact append
   * in r13 but no driver and no small-file story). Each micro-batch
   * appends its postings via [[Relevance.bm25IndexAppend]] under the
   * Spark-stable batch id: the append is failure-ATOMIC (postings are
   * invisible until their manifest row commits) and IDEMPOTENT on the
   * batch id, so foreachBatch's at-least-once replays no-op — no
   * docs-before-store commit ordering is even needed here because the
   * whole family is ONE commit. No drift ledger either: the index is a
   * SUFFICIENT STATISTIC (df and corpus scalars derive at query time),
   * so nothing can go stale — the deliberate contrast with
   * [[cosineIngestStream]]'s frozen-idf snapshot. The first non-empty
   * batch CREATES the index; ids must be new across the stream (the
   * corpus contract — a repeated id doubles its postings).
   *
   * `compactEvery > 0` folds the accumulated batch directories back
   * into one ([[Relevance.bm25Compact]]) whenever the committed
   * directory count reaches the bound — the small-file control that
   * keeps read-path footer pruning flat across unbounded appends
   * (each append adds a file SET; queries match the same bytes but
   * open more footers). Compaction preserves batch identities, so
   * replay detection survives it.
   */
  def bm25IngestStream(stream: DataFrame, idCol: String, textCol: String,
                       indexPath: String,
                       compactEvery: Int = 0): DataStreamWriter[Row] =
    stream.twinWriteStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val applied = Relevance.bm25IndexAppend(spark, indexPath, batch,
            idCol, textCol, s"b$batchId")
          if (applied && compactEvery > 0 &&
              Relevance.bm25IndexDirs(spark, indexPath).length
                >= compactEvery) {
            Relevance.bm25Compact(spark, indexPath); ()
          }
        }
    }

  /**
   * Streaming duplicated-span gate: screen each arriving micro-batch for
   * substring-level duplication ([[Dedup.duplicatedSpansIncremental]])
   * against the kept corpus's span store and DROP documents whose
   * duplicated-span fraction exceeds `maxDupFrac` — the ingest-time form
   * of the Lee et al. 2022 "train on deduplicated substrings" decision,
   * completing the span family's ingest path (exact = incremental dedup,
   * shingle overlap = minhash, embedding = semantic, weighted terms =
   * cosine, index = BM25, this = substring).
   *
   * State under `statePath` (VersionedTable-backed): `docs` — the kept
   * corpus `(id, text)`; `store` — its PER-DOC span store
   * ([[Dedup.spanStorePerDoc]], `(id, h, cnt)`). The store holds KEPT
   * documents only, so a batch document duplicating a previously DROPPED
   * document is judged novel — the corpus the screen defends is the kept
   * corpus (the [[minhashIngestStream]] keeper discipline). Within a
   * batch, span occurrences count over the FULL batch (a doc whose only
   * duplication partner is itself dropped still sees the spans as
   * duplicated) — the same one-pass deterministic-fold trade
   * `minhashIngestStream`'s default drop policy documents.
   *
   * Replay contract (STRONGER than the minhash convergence argument):
   * the per-doc store is keyed `(id, h)`, so both upserts are idempotent,
   * and the screen EXCLUDES store rows whose id is in the batch
   * ([[Dedup.duplicatedSpansIncrementalPerDoc]]) — an at-least-once
   * redelivery re-screens against exactly the pre-batch store and makes
   * the IDENTICAL decisions, whether the first delivery crashed before
   * docs, between docs and store, or after both. An aggregate `(h, occ)`
   * store could not offer this: its count merge doubles on replay. Ids
   * must be unique across the stream (the ingest contract shared by
   * every driver here).
   *
   * Plan shape per batch: the corpus-sized store scans MAP-SIDE against
   * a broadcast of the batch's distinct hash set and id set; everything
   * downstream of the probe is batch-bounded. Stream ≡ a left fold of
   * the batch screen over kept survivors, pinned in `StreamPipelineSpec`.
   */
  def spanIngestStream(stream: DataFrame, idCol: String, textCol: String,
                       statePath: String, n: Int = 12,
                       maxDupFrac: Double = 0.5): DataStreamWriter[Row] =
    stream.twinWriteStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val storePath = s"$statePath/store"
          val docsPath = s"$statePath/docs"
          val store = VersionedTable.read(spark, storePath)
            .getOrElse(Dedup.spanStorePerDoc(
              batch.limit(0), idCol, textCol, n))
          val keptIds = Dedup
            .duplicatedSpansIncrementalPerDoc(batch, store, idCol, textCol, n)
            .filter(col("dup_span_frac") <= maxDupFrac)
            .select(col("id").as(idCol))
          // persist: the screen behind `kept` feeds the emptiness probe
          // and both upserts — without this it re-runs per consumer
          val kept = batch.join(broadcast(keptIds), Seq(idCol)).persist()
          try {
            if (!kept.isEmpty) {
              // docs before store (the shared crash-ordering discipline);
              // with the id-excluded probe either partial state replays
              // to the same decisions, so the order only guarantees a
              // reader never sees store rows for an uncommitted doc
              VersionedTable.upsert(spark, docsPath,
                kept.select(col(idCol), col(textCol)), Seq(idCol))
              VersionedTable.upsert(spark, storePath,
                Dedup.spanStorePerDoc(kept, idCol, textCol, n),
                Seq("id", "h"))
              ()
            }
          } finally { kept.unpersist(); () }
        }
    }

  /**
   * Streaming BPE segmentation: tokenize arriving documents with a FROZEN
   * model learned offline by [[graft.operators.Tokenize.learnBpe]] — the
   * ingest-time twin of [[graft.operators.Tokenize.applyBpe]].
   *
   * The model rides in as literals (the segmented vocab as a map, the
   * merge rules as the fold chain for unseen words), so the per-batch
   * plan is a PURE PROJECTION: no stream-static join, no state, no
   * exchange — each document's words map through the vocab lookup with
   * the merge-fold fallback, entirely inside whole-stage codegen, in any
   * output mode. Unlike the batch form (which reassembles per doc after
   * a posexplode + vocab join), the literal form transforms the word
   * array in place, so even the reassembly exchange disappears.
   *
   * The literal-map trade-off: the inlined vocab lives in the PLAN, which
   * is re-serialized every micro-batch — a measured per-batch tax that
   * is superlinear in vocab size and, per the round-9 `SegmentBench`
   * sweep (local[8], 200-doc batches), ALREADY loses at every size
   * measured: 0.39 s/batch at 1k entries, 0.61 s at 6k, 0.94 s at 10k —
   * vs a FLAT 0.19 s for the broadcast expression at 1k through 100k.
   * The default is therefore the codegen'd broadcast form for every
   * vocab (`inlineVocabLimit = 0`): a TorrentBroadcast of the (vocab
   * map, merge rules) model shipped to each executor ONCE for the
   * query's lifetime instead of riding in every batch's plan, looked up
   * by a segmentation expression whose merge-fold fallback
   * (`Tokenize.segmentWordLocal`) is the exact twin of the Catalyst
   * fold. Raising `inlineVocabLimit` opts small vocabs back into the
   * pure-literal plan (no broadcast machinery — occasionally useful for
   * plan golden-files). Still stateless, still append-mode-safe — the
   * stream-static JOIN form of the batch segmenter is NOT available
   * here because its per-doc reassembly aggregation would demand
   * watermark state; the broadcast lookup keeps the pure-projection
   * contract at any vocab size. Both forms are equivalence-pinned in
   * `StreamPipelineSpec`.
   *
   * Emits every input column plus (n_words, n_subwords, subword_text) —
   * the same per-doc surface as `applyBpe` (equivalence pinned in
   * `StreamPipelineSpec`).
   */
  def bpeSegmentStream(docs: DataFrame, textCol: String,
                       model: graft.operators.Tokenize.BpeModel,
                       inlineVocabLimit: Int = 0): DataFrame = {
    val vocab: Map[String, Seq[String]] = model.vocab
      .select(col("word"), col("toks")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val words = filter(split(col(textCol), " "), w => w =!= "")
    val segmented =
      if (vocab.size <= inlineVocabLimit)
        transform(words, w =>
          coalesce(element_at(typedLit(vocab), w),
            graft.operators.Tokenize.segmentExpr(model, w)))
      else {
        // Codegen'd broadcast-backed expression (the r8 Scala-UDF
        // fallback boxed every row and split whole-stage codegen):
        // serializes as the broadcast handle, the model — including its
        // per-executor lazy lookup table — ships once per executor, and
        // the lookup stays inside the generated projection.
        val sc = docs.sparkSession.sparkContext
        val modelBc = sc.broadcast(
          new graft.functions.BpeSegModel(vocab, model.merges.toIndexedSeq))
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.BpeSegmentWordsExpr(
            org.apache.spark.sql.GraftColumnBridge.expression(words), modelBc))
      }
    docs
      .withColumn("_segs", segmented)
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("n_subwords",
        aggregate(col("_segs"), lit(0L), (acc, s) => acc + size(s)))
      .withColumn("subword_text", array_join(flatten(col("_segs")), " "))
      .drop("_segs")
  }
}
