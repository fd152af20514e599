package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.TextAnalysis

/** Streaming pipeline ops ≡ their batch twins on the same documents. */
class StreamPipelineSpec extends SparkSuite {

  import spark.implicits._

  private val benchDocs = Seq(
    (100L, "alpha beta gamma delta"),
    (101L, "eval suite question text"))
  private val corpusDocs = Seq(
    (1L, "x alpha beta gamma y plus ordinary words to pass the filter"),
    (2L, "eval suite question text plus ordinary padding words here too"),
    (3L, "a perfectly clean document with enough ordinary words to pass"),
    (4L, "too short"))

  test("decontaminateStream ≡ batch contaminationCheck") {
    val corpus = corpusDocs.toDF("doc_id", "text")
    def check(benchRows: Seq[(Long, String)], name: String): Set[(Long, Long, Long, Double)] = {
      val bench = benchRows.toDF("doc_id", "text")
      val batch = TextAnalysis.contaminationCheck(corpus, bench, "doc_id", "text", 3)
        .select("doc_id", "n_grams", "n_contaminated", "contamination_frac")
        .as[(Long, Long, Long, Double)].collect().toSet

      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val out = StreamPipeline.decontaminateStream(
        in.toDF().toDF("doc_id", "text"), "text", bench, "text", 3)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(corpusDocs)
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(name)
        .select("doc_id", "n_grams", "n_contaminated", "contamination_frac")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(streamed === batch, s"stream ≠ batch for the $name benchmark")
      batch
    }

    val batch = check(benchDocs, "decon")
    assert(batch.nonEmpty && batch.exists(_._3 > 0),
      "fixture must contain a contaminated doc")
    // an empty benchmark is an empty broadcast set: no overlap anywhere
    val clean = check(Seq.empty, "decon_empty")
    assert(clean.map(_._1) === batch.map(_._1) && clean.forall(_._3 == 0L),
      "an empty benchmark must keep every doc with zero overlap")
  }

  test("ruleFilterStream keeps exactly the batch filter's keepers") {
    val corpus = corpusDocs.toDF("doc_id", "text")
    val batchKeepers = TextAnalysis.withRuleFilter(corpus, "text")
      .filter(col("keep") === 1).select("doc_id").as[Long].collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamPipeline.ruleFilterStream(in.toDF().toDF("doc_id", "text"), "text")
    val q = out.writeStream.format("memory").queryName("rf")
      .outputMode("append").start()
    try {
      in.addData(corpusDocs)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("rf").select("doc_id").as[Long].collect().toSet

    assert(batchKeepers.nonEmpty && batchKeepers.size < corpusDocs.size,
      "fixture must exercise both keep and drop")
    assert(streamed === batchKeepers)
  }

  test("importanceGateStream scores ≡ batch importanceWeights") {
    import graft.operators.Importance
    val target = benchDocs.toDF("doc_id", "text")
    val raw = corpusDocs.toDF("doc_id", "text")
    val batch = Importance.importanceWeights(raw, target, "doc_id", "text", buckets = 256)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamPipeline.importanceGateStream(
      in.toDF().toDF("doc_id", "text"), "text", raw, target, "text", buckets = 256)
    val q = out.writeStream.format("memory").queryName("imp")
      .outputMode("append").start()
    try {
      in.addData(corpusDocs)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("imp")
      .select("doc_id", "n_feats", "log_ratio")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (id, (nf, lr)) =>
      assert(nf === batch(id)._1, s"n_feats mismatch for $id")
      assert(math.abs(lr - batch(id)._2) < 1e-9,
        s"log_ratio mismatch for $id: stream $lr vs batch ${batch(id)._2}")
    }
  }

  test("chunkDocuments is stream-safe: stream chunks ≡ batch chunks") {
    import graft.operators.TextAnalysis
    val corpus = corpusDocs.toDF("doc_id", "text")
    val batch = TextAnalysis.chunkDocuments(corpus, "doc_id", "text", 4, 1)
      .as[(Long, Int, String, Int)].collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = TextAnalysis.chunkDocuments(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", 4, 1)
    val q = out.writeStream.format("memory").queryName("chunks")
      .outputMode("append").start()
    try {
      in.addData(corpusDocs)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("chunks")
      .as[(Long, Int, String, Int)].collect().toSet
    assert(batch.exists(_._2 > 0), "fixture must produce a multi-chunk doc")
    assert(streamed === batch)
  }

  test("heavyTermsStream: windowed MG sketch state upholds the guarantee") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    // zipf-ish: term t_i appears ~60/i times, all inside one 1-minute window
    val words = (1 to 12).flatMap(i => Seq.fill(60 / i)(s"t$i"))
    val rows = words.zipWithIndex.map { case (w, j) =>
      (new Timestamp(1000000L + j), w)
    }
    val in = MemoryStream[(Timestamp, String)]
    val out = StreamPipeline.heavyTermsStream(
      in.toDF().toDF("ts", "text"), "ts", "text", "10 seconds", "1 minute", k = 5)
    val q = out.writeStream.format("memory").queryName("heavy")
      .outputMode("update").start()
    try {
      // two micro-batches exercise the state-merge path
      in.addData(rows.take(rows.size / 2))
      q.processAllAvailable()
      in.addData(rows.drop(rows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per term = current sketch of the (single) window
    val est = spark.table("heavy")
      .groupBy("term").agg(max("est").as("est"))
      .as[(String, Long)].collect().toMap
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = words.size
    val eps = n.toDouble / 6 // k+1 = 6
    truth.foreach { case (t, c) =>
      if (c > eps) assert(est.contains(t), s"heavy term $t (count $c) missing")
    }
    est.foreach { case (t, e) =>
      assert(e <= truth(t) && truth(t) - e <= eps + 1e-9, s"bound broken for $t")
    }
  }

  test("incrementalDedupStream drops corpus dups and in-stream dups") {
    import java.sql.Timestamp
    val corpus = Seq((1L, "already in the corpus")).toDF("doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamPipeline.incrementalDedupStream(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "10 seconds",
      corpus, "text")
    val q = out.writeStream.format("memory").queryName("incdedup")
      .outputMode("append").start()
    try {
      val t0 = new Timestamp(1000000L)
      in.addData(Seq(
        (10L, t0, "brand new content"),
        (11L, t0, "brand new content"),     // in-stream dup -> dropped
        (12L, t0, "already in the corpus"), // corpus dup -> dropped
        (13L, t0, "also new and unique")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("incdedup").select("doc_id").as[Long].collect().toSet
    // dropDuplicatesWithinWatermark keeps the FIRST-seen row per fp; both
    // outcomes are valid dedup keeps, so assert one-of per content
    assert(kept.intersect(Set(10L, 11L)).size === 1)
    assert(kept.contains(13L))
    assert(!kept.contains(12L), "corpus duplicate must not pass the gate")
    assert(kept.size === 2)
  }

  test("minhashIngestStream: kept corpus ≡ left fold of the incremental screen") {
    import graft.operators.Dedup
    import graft.sources.VersionedTable
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door and the birds sing in the tall green trees outside"
    val other = "completely different content about distributed query engines processing petabytes of columnar data with vectorized execution and adaptive partitioning"
    val batch1 = Seq((1L, base), (2L, other), (3L, base)) // 3 exact-dups 1
    val batch2 = Seq(
      (10L, base),                                   // exact dup of corpus 1
      (11L, base.replace("lazy dog", "sleepy dog")), // near-dup of corpus 1
      (12L, "novel second batch content about streaming watermark semantics and late data routing through keyed state machines"),
      (13L, other.replace("petabytes", "exabytes"))) // near-dup of corpus 2
    val statePath =
      java.nio.file.Files.createTempDirectory("graft_mh_ingest").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamPipeline.minhashIngestStream(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", statePath,
        tau = 0.5)
      .start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val streamedIds = VersionedTable.read(spark, s"$statePath/docs").get
      .select("doc_id").as[Long].collect().toSet
    // fold the same batches through the batch operators
    val b1 = batch1.toDF("doc_id", "text")
    val drop1 = Dedup.minhashLshPairs(b1, "doc_id", "text", tau = 0.5)
      .select("id_b").as[Long].collect().toSet
    val kept1 = batch1.filterNot(t => drop1(t._1))
    val k1df = kept1.toDF("doc_id", "text")
    val drop2 = Dedup.minhashLshPairsIncremental(
        batch2.toDF("doc_id", "text"),
        Dedup.minhashStore(k1df, "doc_id", "text"), k1df,
        "doc_id", "text", tau = 0.5)
      .select("id_b").as[Long].collect().toSet
    val kept2 = batch2.map(_._1).filterNot(drop2)
    assert(streamedIds === (kept1.map(_._1) ++ kept2).toSet)
    assert(streamedIds === Set(1L, 2L, 12L),
      "cross-batch exact AND near dups drop; only the novel doc survives")
    // the signature store tracks the kept corpus exactly
    assert(VersionedTable.read(spark, s"$statePath/store").get
      .select("id").as[Long].collect().toSet === streamedIds)
  }

  test("minhashIngestStream survivors-only: chain keeps the ends, satellites inherit") {
    import graft.sources.VersionedTable
    // chain fixture (VERDICT r10 #6): a < b < c with b≈a, c≈b, c≉a —
    // plus d, an exact dup of b. Token runs sized so jaccard(a,b) ≈
    // jaccard(b,c) ≈ 0.69 ≥ τ but jaccard(a,c) ≈ 0.46 < τ.
    val toks = (1 to 40).map(i => s"tok$i")
    def text(repl: Map[Int, String]): String =
      toks.zipWithIndex.map { case (t, i) => repl.getOrElse(i, t) }
        .mkString(" ")
    val a = text(Map.empty)
    val b = text((5 to 9).map(i => i -> s"rb$i").toMap)
    val c = text(((5 to 9).map(i => i -> s"rb$i") ++
      (20 to 24).map(i => i -> s"rc$i")).toMap)
    val batch = Seq((1L, a), (2L, b), (3L, c), (4L, b))
    // fixture validity: exactly the chain pairs + the exact-dup star
    val pairs = graft.operators.Dedup.minhashLshPairs(
        batch.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, bands = 8, rowsPerBand = 2, tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (2L, 3L), (2L, 4L)),
      s"chain fixture broke: $pairs")
    def run(survivorsOnly: Boolean): (Set[Long], Set[Long]) = {
      val statePath =
        java.nio.file.Files.createTempDirectory("graft_mh_surv").toString
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = StreamPipeline.minhashIngestStream(
          in.toDF().toDF("doc_id", "text"), "doc_id", "text", statePath,
          k = 3, bands = 8, rowsPerBand = 2, tau = 0.5,
          survivorsOnly = survivorsOnly)
        .start()
      try { in.addData(batch); q.processAllAvailable() } finally q.stop()
      (VersionedTable.read(spark, s"$statePath/docs").get
        .select("doc_id").as[Long].collect().toSet,
        VersionedTable.read(spark, s"$statePath/store").get
          .select("id").as[Long].collect().toSet)
    }
    // default local-minima policy: every id_b drops — only the head stays
    assert(run(survivorsOnly = false)._1 === Set(1L),
      "default policy must keep only the chain head")
    // survivors-only: c's only ≥ τ match (b) was itself dropped, so c
    // survives; d (exact dup of dropped b) INHERITS the drop — its own
    // corpus pairs are never emitted (only keepers are banded), so the
    // jaccard-1.0 unconditional rule must catch it
    val (docs, store) = run(survivorsOnly = true)
    assert(docs === Set(1L, 3L),
      "survivors-only must keep the chain ends and drop the exact satellite")
    assert(store === docs, "signature store must track the kept corpus")
  }

  test("minhashIngestStream: at-least-once replays converge (docs-first commit)") {
    import graft.sources.VersionedTable
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door and the birds sing in the tall green trees outside"
    val other = "completely different content about distributed query engines processing petabytes of columnar data with vectorized execution and adaptive partitioning"
    val batch = Seq((1L, base), (2L, other), (3L, base))
    implicit val sqlCtx = spark.sqlContext
    def deliver(statePath: String): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = StreamPipeline.minhashIngestStream(
          in.toDF().toDF("doc_id", "text"), "doc_id", "text", statePath,
          tau = 0.5)
        .start()
      try { in.addData(batch); q.processAllAvailable() } finally q.stop()
    }
    def state(p: String): (Set[Long], Set[Long]) = (
      VersionedTable.read(spark, s"$p/docs").get
        .select("doc_id").as[Long].collect().toSet,
      VersionedTable.read(spark, s"$p/store").get
        .select("id").as[Long].collect().toSet)
    // reference: one clean delivery
    val p1 = java.nio.file.Files.createTempDirectory("graft_mh_replay").toString
    deliver(p1)
    val committed = state(p1)
    assert(committed === ((Set(1L, 2L), Set(1L, 2L))))
    // full replay of an already-committed batch: every doc exact-matches
    // its own committed keeper and drops — state unchanged
    deliver(p1)
    assert(state(p1) === committed)
    // crash-window replay: the only partial state the docs-first commit
    // order can leave behind is docs-without-store; a redelivery must
    // converge to the clean state (store-without-docs — the pre-fix
    // order's artifact — would instead self-match and orphan the docs)
    val p2 = java.nio.file.Files.createTempDirectory("graft_mh_replay2").toString
    VersionedTable.upsert(spark, s"$p2/docs",
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), Seq("doc_id"))
    deliver(p2)
    assert(state(p2) === committed)
  }

  test("robustGateStream: frozen med/MAD calibration ≡ the batch screen; MAD-0 refusal; keepOnly") {
    // the RobustStatsSpec fixture: f1 median 101.5, MAD 2.0; f2 constant
    // (MAD 0 → null z, never flags)
    val xs = Seq(100L, 101L, 102L, 99L, 103L, 98L, 104L, 105L, 101L, 1000L)
    val calib = xs.zipWithIndex.map { case (x, i) => (i.toLong, x, 7L) }
      .toDF("id", "f1", "f2")
    // batch twin on the SAME corpus gives the expected per-value scores
    val expected = graft.operators.RobustStats
      .robustOutliers(calib, "id", Seq("f1", "f2"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getLong(3), r.getBoolean(4)))
      .toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val gated = StreamPipeline.robustGateStream(
      in.toDF().toDF("id", "f1", "f2"), Seq("f1", "f2"), calib)
    val q = gated.writeStream.format("memory").queryName("robust_gate")
      .outputMode("append").start()
    try {
      in.addData(xs.zipWithIndex.map { case (x, i) => (i.toLong, x, 7L) })
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("robust_gate")
      .select("id", "f1_z", "f2_z", "n_outlier_feats", "is_outlier")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(got === expected,
      "the frozen-calibration stream must equal the batch screen on its corpus")
    // keepOnly drops the planted monster in-stream
    val in2 = MemoryStream[(Long, Long, Long)]
    val q2 = StreamPipeline.robustGateStream(
        in2.toDF().toDF("id", "f1", "f2"), Seq("f1", "f2"), calib,
        keepOnly = true)
      .writeStream.format("memory").queryName("robust_gate_keep")
      .outputMode("append").start()
    try {
      in2.addData(Seq((100L, 101L, 7L), (101L, 1000L, 7L)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.table("robust_gate_keep").select("id")
      .as[Long].collect().toSet === Set(100L),
      "keepOnly must drop the outlier at ingest")
  }

  test("robustGateStream: a null-median feature falls to null z instead of poisoning the gate") {
    // ADVICE r13: an all-null calibration column used to interpolate the
    // text 'NaN' into the MAD percentile expression — an unresolved
    // column that threw AnalysisException for the WHOLE gate. It must
    // now score as the null-z refusal while the healthy feature still
    // gates.
    val calib = Seq((1L, 100.0, None: Option[Double]),
        (2L, 101.0, None), (3L, 102.0, None), (4L, 99.0, None),
        (5L, 103.0, None))
      .toDF("id", "f1", "f2")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double, Option[Double])]
    val q = StreamPipeline.robustGateStream(
        in.toDF().toDF("id", "f1", "f2"), Seq("f1", "f2"), calib,
        zThreshold = 2.0)
      .writeStream.format("memory").queryName("robust_gate_nullmed")
      .outputMode("append").start()
    try {
      in.addData(Seq((10L, 101.0, Some(5.0)), (11L, 500.0, Some(5.0))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("robust_gate_nullmed")
      .select("id", "f1_z", "f2_z", "is_outlier")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toMap
    assert(got(10L)._2 === None && got(11L)._2 === None,
      "the uncalibratable feature must refuse with null z")
    assert(got(10L)._1.isDefined && !got(10L)._3)
    assert(got(11L)._3, "the healthy feature must still flag the outlier")
  }

  test("winsorizeStream: frozen cut points ≡ the batch clamp; nulls stay null") {
    // 1..20 calibration: exact cuts 1.95 / 19.05 (the RobustStatsSpec
    // winsorize fixture) — the stream must clamp exactly like the batch
    // operator calibrated on the same corpus
    val calib = (1 to 20).map(i => (i.toLong, Some(i.toDouble)))
      .toDF("id", "f1")
    val expected = graft.operators.RobustStats
      .winsorize(calib, "id", Seq("f1"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Option[Double])]
    val q = StreamPipeline.winsorizeStream(
        in.toDF().toDF("id", "f1"), Seq("f1"), calib)
      .writeStream.format("memory").queryName("wins_stream")
      .outputMode("append").start()
    try {
      in.addData((1 to 20).map(i => (i.toLong, Some(i.toDouble))) :+
        (21L, None: Option[Double]))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wins_stream").select("id", "f1_w")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert((1 to 20).forall(i => got(i.toLong) === expected(i.toLong)),
      "the frozen-cuts stream must equal the batch clamp on its corpus")
    assert(got(21L) === None, "null feature values must stay null")
  }

  test("cosineIngestStream: kept corpus ≡ left fold of the incremental APSS screen; drift ledger") {
    import graft.operators.Relevance
    import graft.sources.VersionedTable
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door and the birds sing in the tall green trees outside"
    val other = "completely different content about distributed query engines processing petabytes of columnar data with vectorized execution and adaptive partitioning"
    val batch1 = Seq((1L, base), (2L, other), (3L, base))
    val batch2 = Seq(
      (10L, base),                                   // exact dup of keeper 1
      (11L, base.replace("lazy dog", "sleepy dog")), // near-dup of keeper 1
      (12L, "novel second batch content about streaming watermark semantics and late data routing through keyed state machines"),
      (13L, other.replace("petabytes", "exabytes"))) // near-dup of keeper 2
    val statePath =
      java.nio.file.Files.createTempDirectory("graft_cos_ingest").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamPipeline.cosineIngestStream(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", statePath,
        tau = 0.5)
      .start()
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val streamedIds = VersionedTable.read(spark, s"$statePath/docs").get
      .select("doc_id").as[Long].collect().toSet
    // fold the same batches through the batch operators
    val b1 = batch1.toDF("doc_id", "text")
    val drop1 = Relevance.cosinePairs(b1, "doc_id", "text", tau = 0.5)
      .select("id_b").as[Long].collect().toSet
    val kept1 = batch1.filterNot(t => drop1(t._1))
    val store1 = Relevance.cosineStore(
      kept1.toDF("doc_id", "text"), "doc_id", "text")
    val drop2 = Relevance.cosinePairsIncremental(
        batch2.toDF("doc_id", "text"), store1, "doc_id", "text", tau = 0.5)
      .select("id_b").as[Long].collect().toSet
    val kept2 = batch2.map(_._1).filterNot(drop2)
    assert(streamedIds === (kept1.map(_._1) ++ kept2).toSet)
    assert(streamedIds === Set(1L, 2L, 12L),
      "cross-batch exact AND near dups drop; only the novel doc survives")
    // the keeper store tracks the kept corpus exactly
    assert(VersionedTable.read(spark, s"$statePath/store").get
      .select("id").as[Long].collect().toSet === streamedIds)
    // drift ledger: one row per screened batch (none for the freezing
    // batch — there was no model to drift from), unseen mass in (0, 1)
    // (doc 12 is mostly novel vocabulary; docs 10/13 are mostly known)
    val drift = spark.read.parquet(s"$statePath/_drift")
      .select("batch_id", "unseen_frac")
      .as[(Long, Double)].collect()
    assert(drift.map(_._1).toSet === Set(1L),
      "exactly the post-freeze batch writes a drift row")
    assert(drift.forall(r => r._2 > 0.0 && r._2 < 1.0),
      s"batch2 carries SOME unseen mass, not all: ${drift.toSeq}")
  }

  test("cosineIngestStream survivors-only: chain keeps the ends, satellites inherit") {
    import graft.operators.Relevance
    import graft.sources.VersionedTable
    // cosine chain fixture: a and b share block X (40 toks), b and c
    // share block Y (40 toks), a and c share NOTHING; a and c each
    // carry one private rare token so their norms stay comparable;
    // d = exact dup of b. Member-level df over {a,b,c,d}: X,Y at 3
    // (idf ln(4/3)), privates at 1 (ln 4) — cos(a,b) = cos(b,c) ≈ 0.56
    // ≥ τ = 0.5, cos(a,c) unpaired, cos(b,d) = 1.0.
    val x = (1 to 40).map(i => s"x$i").mkString(" ")
    val y = (1 to 40).map(i => s"y$i").mkString(" ")
    val a = s"$x p1"
    val b = s"$x $y"
    val c = s"$y q1"
    val batch = Seq((1L, a), (2L, b), (3L, c), (4L, b))
    // fixture validity: the chain pairs MEMBER-EXPANDED (cosinePairs
    // emits every member pair of a duplicate group — unlike minhash,
    // where satellites are never banded) + the exact-dup pair at 1.0
    val pairs = Relevance.cosinePairs(
        batch.toDF("doc_id", "text"), "doc_id", "text", tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 3L), (3L, 4L), (2L, 4L)),
      s"chain fixture broke: $pairs")
    def run(survivorsOnly: Boolean,
            batches: Seq[Seq[(Long, String)]] = Seq(batch))
        : (String, Set[Long], Option[Set[Long]]) = {
      val statePath =
        java.nio.file.Files.createTempDirectory("graft_cos_surv").toString
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = StreamPipeline.cosineIngestStream(
          in.toDF().toDF("doc_id", "text"), "doc_id", "text", statePath,
          tau = 0.5, survivorsOnly = survivorsOnly)
        .start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      (statePath,
        VersionedTable.read(spark, s"$statePath/docs").get
          .select("doc_id").as[Long].collect().toSet,
        VersionedTable.read(spark, s"$statePath/store")
          .map(_.select("id").as[Long].collect().toSet))
    }
    // default local-minima policy: every id_b drops — only the head
    // stays; a one-doc kept corpus is DEGENERATE (every idf 0, zero
    // norm), so the model cannot freeze yet and the store stays absent
    // until a later window breaks the degeneracy
    val (_, docsDefault, storeDefault) = run(survivorsOnly = false)
    assert(docsDefault === Set(1L),
      "default policy must keep only the chain head")
    assert(storeDefault.isEmpty,
      "a degenerate (single-content) kept corpus must not freeze a model")
    // degeneracy recovery: pre-freeze kept content still screens later
    // arrivals (the union path) — a dup of the unfrozen doc 1 drops, the
    // novel doc breaks the degeneracy, and the model freezes over BOTH
    val (_, docsRec, storeRec) = run(survivorsOnly = false,
      Seq(batch, Seq((10L, a), (11L, "entirely new z1 z2 z3 z4 content"))))
    assert(docsRec === Set(1L, 11L),
      "a dup of pre-freeze content must drop; the novel doc must survive")
    assert(storeRec === Some(Set(1L, 11L)),
      "the model must freeze over the full kept corpus once non-degenerate")
    // survivors-only: c's only ≥ τ match (b) was itself dropped, so c
    // survives; d (exact dup of dropped b) drops — via its own
    // member-expanded pairs against kept 1 and 3, AND via the
    // cos_r = 1.0 unconditional rule on (2, 4)
    val (_, docs, store) = run(survivorsOnly = true)
    assert(docs === Set(1L, 3L),
      "survivors-only must keep the chain ends and drop the exact satellite")
    assert(store === Some(docs), "keeper store must track the kept corpus")
  }

  test("cosineIngestStream: at-least-once replays converge (docs-first commit)") {
    import graft.sources.VersionedTable
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door and the birds sing in the tall green trees outside"
    val other = "completely different content about distributed query engines processing petabytes of columnar data with vectorized execution and adaptive partitioning"
    val batch = Seq((1L, base), (2L, other), (3L, base))
    implicit val sqlCtx = spark.sqlContext
    def deliver(statePath: String): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = StreamPipeline.cosineIngestStream(
          in.toDF().toDF("doc_id", "text"), "doc_id", "text", statePath,
          tau = 0.5)
        .start()
      try { in.addData(batch); q.processAllAvailable() } finally q.stop()
    }
    def state(p: String): (Set[Long], Set[Long]) = (
      VersionedTable.read(spark, s"$p/docs").get
        .select("doc_id").as[Long].collect().toSet,
      VersionedTable.read(spark, s"$p/store").get
        .select("id").as[Long].collect().toSet)
    val p1 = java.nio.file.Files.createTempDirectory("graft_cos_replay").toString
    deliver(p1)
    val committed = state(p1)
    assert(committed === ((Set(1L, 2L), Set(1L, 2L))))
    // full replay: every doc re-finds its own committed keeper at
    // cos 1.0 under the frozen model and drops — state unchanged
    deliver(p1)
    assert(state(p1) === committed)
    // crash-window replay: docs-without-store (the only partial state
    // the docs-first order can leave) must converge
    val p2 = java.nio.file.Files.createTempDirectory("graft_cos_replay2").toString
    VersionedTable.upsert(spark, s"$p2/docs",
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), Seq("doc_id"))
    deliver(p2)
    assert(state(p2) === committed)
  }

  test("semanticIngestStream: final table ≡ left fold of incremental semantic dedup") {
    import graft.operators.Similarity
    import graft.sources.VersionedTable
    // 4-dim vectors: v0≈v1≈v4 (pairwise cos > 0.99), v2 ⊥, v3 = −v0
    val all = Map(
      0L -> Array(1.0f, 0.0f, 0.0f, 0.0f),
      1L -> Array(0.99f, 0.1f, 0.0f, 0.0f),
      2L -> Array(0.0f, 1.0f, 0.0f, 0.0f),
      3L -> Array(-1.0f, 0.0f, 0.0f, 0.0f),
      4L -> Array(0.9f, 0.05f, 0.1f, 0.0f))
    val batch1 = Seq(0L, 2L); val batch2 = Seq(1L, 3L, 4L)
    val statePath =
      java.nio.file.Files.createTempDirectory("graft_sem_ingest").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamPipeline.semanticIngestStream(
        in.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", tau = 0.9, statePath, nCentroids = 1)
      .start()
    try {
      in.addData(batch1.map(i => (i, all(i))))
      q.processAllAvailable()
      in.addData(batch2.map(i => (i, all(i))))
      q.processAllAvailable()
    } finally q.stop()
    // quantizer: trained on batch 1, frozen and persisted
    val cents = Similarity.centroidsFromDF(
      spark.read.parquet(s"$statePath/_quantizer"))
    assert(cents.map(_._1).toSeq === Seq(0L),
      "frozen quantizer = lowest-id sample of the FIRST batch")
    val corpus = VersionedTable.read(spark, s"$statePath/corpus").get
    assert(corpus.columns.contains("cid"), "keepers stored pre-assigned")
    val streamed = corpus.select("vec_id").as[Long].collect().toSet
    // fold the same batches through the batch operators under the SAME
    // frozen quantizer
    def df(ids: Seq[Long]) =
      ids.map(i => (i, all(i))).toDF("vec_id", "embedding")
    val dec1 = Similarity.semanticDedupWithQuantizer(
      df(batch1), "vec_id", "embedding", cents, tau = 0.9)
    val corpus1 = df(batch1).join(
      dec1.filter(col("keep")).select(col("id").as("vec_id"), col("cid")),
      "vec_id")
    val kept1 = corpus1.select("vec_id").as[Long].collect().toSet
    val kept2 = Similarity.semanticDedupIncrementalAssigned(
        df(batch2), corpus1, "vec_id", "embedding", cents, tau = 0.9)
      .filter(col("keep")).select("id").as[Long].collect().toSet
    assert(streamed === kept1 ++ kept2)
    assert(streamed === Set(0L, 2L, 3L),
      "v1/v4 must drop against the standing corpus, v3 (negated) survives")
  }

  test("importanceGateStream threshold drops below-minimum docs in-stream") {
    val target = benchDocs.toDF("doc_id", "text")
    val raw = corpusDocs.toDF("doc_id", "text")
    val all = StreamPipeline.importanceGateStream(
      raw, "text", raw, target, "text", buckets = 256)
      .select("doc_id", "log_ratio")
      .as[(Long, Double)].collect().toMap // batch DataFrame drive of the same op
    val cut = all.values.toSeq.sorted.apply(all.size / 2)
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = StreamPipeline.importanceGateStream(
      in.toDF().toDF("doc_id", "text"), "text", raw, target, "text",
      buckets = 256, minLogRatio = Some(cut))
    val q = out.writeStream.format("memory").queryName("impcut")
      .outputMode("append").start()
    try {
      in.addData(corpusDocs)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("impcut").select("doc_id").as[Long].collect().toSet
    assert(kept === all.filter(_._2 >= cut).keySet)
  }

  test("bpeSegmentStream ≡ batch applyBpe, incl. the OOV fold path") {
    import graft.operators.Tokenize
    def learn(docs: Seq[(Long, String)]): Tokenize.BpeModel =
      Tokenize.learnBpe(
        Tokenize.wordCounts(docs.toDF("doc_id", "text"), "doc_id", "text"), k = 8)
    val model = learn(corpusDocs)
    // stream docs include words absent from the training vocab ("zzqx"),
    // so the merge-fold fallback executes, not just the vocab
    // lookup — plus an empty and a whitespace-only doc, which BOTH forms
    // must keep as (0, 0, "") rows (ADVICE r7: batch dropped them)
    val streamDocs = corpusDocs ++ Seq(
      (9L, "zzqx alpha unseen beta"), (10L, ""), (11L, "   "))
    def batchOf(m: Tokenize.BpeModel): Set[(Long, Long, Long, String)] =
      Tokenize.applyBpe(streamDocs.toDF("doc_id", "text"), m, "doc_id", "text")
        .select("doc_id", "n_words", "n_subwords", "subword_text")
        .as[(Long, Long, Long, String)].collect().toSet

    def streamWith(m: Tokenize.BpeModel, name: String): Set[(Long, Long, Long, String)] = {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val out = StreamPipeline.bpeSegmentStream(
        in.toDF().toDF("doc_id", "text"), "text", m)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(streamDocs)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .select("doc_id", "n_words", "n_subwords", "subword_text")
        .as[(Long, Long, Long, String)].collect().toSet
    }

    val streamed = streamWith(model, "bpeseg")
    assert(streamed === batchOf(model))
    assert(streamed.exists(_._4.contains("z z q x")),
      "the OOV word must fall back to (here unmerged) character subwords")
    assert(streamed.filter(t => t._1 == 10L || t._1 == 11L) ===
      Set((10L, 0L, 0L, ""), (11L, 0L, 0L, "")),
      "wordless docs must survive as (0, 0, \"\") in both forms")

    // a model learned from an empty corpus has an empty vocab and no
    // merges: every word takes the merge fold and stays split into chars
    val empty = learn(Seq.empty)
    assert(empty.merges.isEmpty && empty.vocab.isEmpty)
    assert(streamWith(empty, "bpeseg_empty") === batchOf(empty))
  }

  test("cosineIngestStream: drift-triggered offline rebuild resumes cleanly in a fresh statePath") {
    // the scaladoc's rebuild contract, exercised end to end (VERDICT r13
    // #6): ingest until the drift ledger crosses a threshold, rebuild
    // the store OFFLINE over the kept docs table into a FRESH statePath
    // (an upsert cannot retract re-weighted rows — a rebuild is a new
    // snapshot), resume ingest there, and pin the resumed screen's
    // decisions against the batch screen over the rebuilt store.
    import graft.operators.Relevance
    import graft.sources.VersionedTable
    implicit val sqlCtx = spark.sqlContext
    val p1 = java.nio.file.Files.createTempDirectory("cos_drift1").toString
    val p2 = java.nio.file.Files.createTempDirectory("cos_drift2").toString
    val tau = 0.5
    def drive(path: String, batches: Seq[Seq[(Long, String)]]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = StreamPipeline.cosineIngestStream(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", path, tau)
        .start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    val b1 = Seq((1L, "alpha beta gamma delta"),
      (2L, "zeta eta theta iota"))
    // drifted vocabulary: every token unseen at the freeze
    val b2 = Seq((10L, "neo one neo two neo three"),
      (11L, "mono four mono five mono six"))
    drive(p1, Seq(b1, b2))
    val drift = spark.read.parquet(s"$p1/_drift")
      .orderBy("batch_id").collect().map(_.getDouble(1)).toSeq
    assert(drift.length === 1 && drift.head > 0.9,
      s"the all-unseen batch must read as drifted: $drift")
    // offline rebuild: re-weigh the kept corpus into a fresh snapshot
    val docs = VersionedTable.read(spark, s"$p1/docs").get
    VersionedTable.upsert(spark, s"$p2/docs", docs, Seq("doc_id"))
    VersionedTable.upsert(spark, s"$p2/store",
      Relevance.cosineStore(docs, "doc_id", "text"), Seq("id", "term"))
    // resume in the new path: duplicates of keepers from BOTH eras
    // (pre-freeze and drifted) must drop, novel content must keep
    val b3 = Seq((20L, "alpha beta gamma delta"),
      (21L, "neo one neo two neo three"),
      (22L, "fresh words only here"))
    drive(p2, Seq(b3))
    val kept = VersionedTable.read(spark, s"$p2/docs").get
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 10L, 11L, 22L),
      "the rebuild must lose no keeper; the resumed screen must drop " +
        s"duplicates of both eras — got $kept")
    // the resumed screen's decisions ≡ the batch screen over the
    // rebuilt store (the prefix path: uncapped, persisted bnd)
    val expectDropped = Relevance.cosinePairsIncremental(
        b3.toDF("doc_id", "text"),
        Relevance.cosineStore(docs, "doc_id", "text"),
        "doc_id", "text", tau)
      .select($"id_b").as[Long].collect().toSet
    assert(expectDropped === Set(20L, 21L))
  }

  test("survivorDrops: distributed fixpoint ≡ driver sweep ≡ sequential reference") {
    // the sequential reference model: ascending id_b, drop b iff the
    // pair is transitive (sim >= 1.0) or its id_a survived
    def reference(pairs: Seq[(Long, Long, Double)]): Set[Long] = {
      val dropped = scala.collection.mutable.HashSet.empty[Long]
      pairs.sortBy(_._2).foreach { case (a, b, s) =>
        if (s >= 1.0 || !dropped.contains(a)) { dropped += b; () }
      }
      dropped.toSet
    }
    def drops(pairs: Seq[(Long, Long, Double)], limit: Long): Set[Long] =
      StreamPipeline.survivorDrops(spark,
          pairs.toDF("id_a", "id_b", "sim"), "sim", "doc_id", limit)
        .collect().map(_.getLong(0)).toSet
    def both(pairs: Seq[(Long, Long, Double)], expected: Set[Long]): Unit = {
      assert(reference(pairs) === expected, s"fixture wrong: $pairs")
      assert(drops(pairs, Long.MaxValue) === expected, s"collected: $pairs")
      assert(drops(pairs, 0L) === expected, s"distributed: $pairs")
    }
    // chain: only the middle drops, the revived end survives
    both(Seq((1L, 2L, .8), (2L, 3L, .8)), Set(2L))
    // longer chain alternates
    both(Seq((1L, 2L, .8), (2L, 3L, .8), (3L, 4L, .8), (4L, 5L, .8)),
      Set(2L, 4L))
    // star: every satellite drops against the kept center
    both(Seq((1L, 2L, .8), (1L, 3L, .8), (1L, 4L, .8)), Set(2L, 3L, 4L))
    // diamond: both middles drop, the sink revives (ALL its a's dropped)
    both(Seq((1L, 2L, .8), (1L, 3L, .8), (2L, 4L, .8), (3L, 4L, .8)),
      Set(2L, 3L))
    // transitive pairs drop unconditionally — even off a dropped a
    both(Seq((1L, 2L, .8), (2L, 3L, 1.0)), Set(2L, 3L))
    both(Seq((1L, 2L, 1.0), (2L, 3L, .8)), Set(2L))
    // mixed in-degree: one kept a suffices to drop
    both(Seq((1L, 2L, .8), (2L, 4L, .8), (3L, 4L, .8)), Set(2L, 4L))
    both(Seq.empty[(Long, Long, Double)], Set.empty[Long])
    // random pair DAGs: both tiers must equal the reference everywhere
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val pairs = (2L to 40L).flatMap { b =>
        (1L until b).filter(_ => rnd.nextDouble() < 0.12)
          .map(a => (a, b, if (rnd.nextDouble() < 0.2) 1.0 else 0.8))
      }
      val exp = reference(pairs)
      assert(drops(pairs, Long.MaxValue) === exp, s"collected trial $trial")
      assert(drops(pairs, 0L) === exp, s"distributed trial $trial")
      // the EXACT tier boundary (r15): limit = count lands in the
      // driver tier, limit = count − 1 in the frame tier — both sides
      // of the crossing must agree with the reference
      assert(drops(pairs, pairs.length.toLong) === exp,
        s"at-boundary driver tier, trial $trial")
      assert(drops(pairs, pairs.length.toLong - 1L) === exp,
        s"just-over-boundary frame tier, trial $trial")
    }
  }

  test("bm25IngestStream: streamed index ≡ batch build over all arrivals; compaction folds dirs") {
    import graft.operators.Relevance
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("bm25_stream").toString
    val in = MemoryStream[(Long, String)]
    // compactEvery = 3: the third committed batch directory triggers the
    // fold back to one file set
    val q = StreamPipeline.bm25IngestStream(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx,
        compactEvery = 3)
      .start()
    val batches = Seq(
      Seq((1L, "apple banana the the"), (2L, "banana the cherry")),
      Seq((3L, "the cherry cherry"), (4L, null.asInstanceOf[String])),
      Seq((5L, "apple dup key"), (6L, "vector key dup")))
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // the index is a sufficient statistic: the streamed index must
    // answer exactly like a scan of everything that arrived — null-text
    // docs included (they shift n_docs but not n_dl)
    val all = batches.flatten.toDF("doc_id", "text")
    val scanned = Relevance.bm25Search(all, "doc_id", "text",
      "apple cherry key", k = 10).collect().map(_.toSeq).toSeq
    assert(Relevance.bm25SearchIndexed(spark, idx, "apple cherry key",
        k = 10).collect().map(_.toSeq).toSeq === scanned,
      "streamed index must equal the batch scan over the union")
    assert(Relevance.bm25IndexDirs(spark, idx).length === 1,
      "compactEvery must have folded the three batch dirs into one")
  }

  test("spanIngestStream ≡ a fold of the batch screen; store holds keepers only") {
    import graft.operators.Dedup
    import graft.sources.VersionedTable
    val span = "s1 s2 s3 s4"
    val batch1 = Seq(
      (1L, s"$span u1 u2 u3 u4"),                  // 1 of 5 spans dup: kept
      (2L, s"$span x1"),                           // 1 of 2 spans dup: boundary 0.5, kept
      (30L, span),                                 // its only span is dup: frac 1.0, dropped
      (31L, "w1 w2 w3 w4 w1 w2 w3 w4 w1 w2 w3 w4") // self-periodic: all 9 spans dup, dropped
    )
    val batch2 = Seq(
      (40L, s"$span y1"),      // cross-batch dup vs KEPT doc 1: 0.5, kept
      (41L, "w1 w2 w3 w4"),    // dup only vs DROPPED 31 — store holds keepers: novel, kept
      (42L, "a1 a2 a3 a4"),    // intra-batch pair: both see occ_b = 2,
      (43L, "a1 a2 a3 a4")     // both frac 1.0, both drop (full-batch counting)
    )
    val statePath =
      java.nio.file.Files.createTempDirectory("graft_span_ingest").toString
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamPipeline.spanIngestStream(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", statePath, n = 4, maxDupFrac = 0.5)
      .start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    // fold reference: batch-1 decisions over the empty store, batch-2 over
    // the span store of batch-1's survivors
    val kept1 = Dedup.duplicatedSpans(batch1.toDF("doc_id", "text"),
        "doc_id", "text", n = 4)
      .filter(col("dup_span_frac") <= 0.5).select("id").as[Long].collect().toSet
    assert(kept1 === Set(1L, 2L), s"batch-1 fold fixture broke: $kept1")
    val store1 = Dedup.spanStore(
      batch1.toDF("doc_id", "text").filter(col("doc_id").isin(kept1.toSeq: _*)),
      "doc_id", "text", n = 4)
    val kept2 = Dedup.duplicatedSpansIncremental(batch2.toDF("doc_id", "text"),
        store1, "doc_id", "text", n = 4)
      .filter(col("dup_span_frac") <= 0.5).select("id").as[Long].collect().toSet
    assert(kept2 === Set(40L, 41L), s"batch-2 fold fixture broke: $kept2")
    val docs = VersionedTable.read(spark, s"$statePath/docs").get
    assert(docs.select("doc_id").as[Long].collect().toSet === kept1 ++ kept2)
    // the persisted per-doc store is exactly the kept corpus's fingerprints
    val expectStore = Dedup.spanStorePerDoc(docs, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gotStore = VersionedTable.read(spark, s"$statePath/store").get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotStore === expectStore)
  }

  test("spanIngestStream: replays and the crash window converge to identical state") {
    import graft.sources.VersionedTable
    val batch = Seq(
      (1L, "s1 s2 s3 s4 u1 u2 u3 u4"),
      (2L, "s1 s2 s3 s4 x1"),
      (3L, "clean novel words entirely"))
    implicit val sqlCtx = spark.sqlContext
    def deliver(statePath: String): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = StreamPipeline.spanIngestStream(in.toDF().toDF("doc_id", "text"),
          "doc_id", "text", statePath, n = 4, maxDupFrac = 0.5)
        .start()
      try { in.addData(batch); q.processAllAvailable() } finally q.stop()
    }
    def state(p: String): (Set[Long], Set[(Long, Long, Long)]) = (
      VersionedTable.read(spark, s"$p/docs").get
        .select("doc_id").as[Long].collect().toSet,
      VersionedTable.read(spark, s"$p/store").get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    val p1 = java.nio.file.Files.createTempDirectory("graft_span_rp").toString
    deliver(p1)
    val committed = state(p1)
    assert(committed._1 === Set(1L, 2L, 3L))
    // full replay: the id-excluded probe re-screens against the pre-batch
    // store, so decisions are IDENTICAL and the keyed upserts no-op
    deliver(p1)
    assert(state(p1) === committed)
    // crash window (docs committed, store not): redelivery converges
    val p2 = java.nio.file.Files.createTempDirectory("graft_span_rp2").toString
    VersionedTable.upsert(spark, s"$p2/docs",
      batch.toDF("doc_id", "text"), Seq("doc_id"))
    deliver(p2)
    assert(state(p2) === committed)
  }
}
