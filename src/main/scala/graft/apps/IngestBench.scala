package graft.apps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.sources.VersionedTable
import graft.streaming.StreamPipeline

/**
 * Streaming-ingest throughput bench (r11, VERDICT #5): per-batch wall
 * times and state growth for the three ingest screens — exact
 * ([[StreamPipeline.incrementalDedupStream]]), text near-dup
 * ([[StreamPipeline.minhashIngestStream]]), semantic
 * ([[StreamPipeline.semanticIngestStream]]) — with the standing state
 * PRELOADED from a corpus directory, so the measured number is the
 * MARGINAL per-batch cost at that state size (the streaming twin of
 * the batch soaks' `_inc − _store` isolation). Run at two corpus
 * scales, a regression in any screen's per-batch cost or state-growth
 * shape becomes a diffable number the way batch regressions are.
 *
 * `runMain graft.apps.IngestBench <dataDir> <mode> [nBatches] [batchSize]`
 * with mode ∈ `exact | minhash | semantic | cosine | cosine_boiler | bm25 | spans`
 * (`cosine_boiler` over a generated 20k-doc boilerplate corpus,
 * screened uncapped — the prefix-filtered screen's domain; `bm25`
 * adds per-batch `search_sec` read latencies and reports the batch
 * directory count as state). Batches are deterministic
 * re-keyed slices of the corpus base copy (ids monotone past the
 * corpus — the ingest-order contract), half verbatim (exact/near-hit
 * drop work) and half mutated (novel-content screen work), a fresh
 * slice per batch. Emits one parseable line:
 * `{"bench":"ingest","mode":...,"corpus_rows":N,"batch_sec":[...],
 * "median_sec":M,"state_before":A,"state_after":B}`.
 */
object IngestBench {

  private def median(xs: Seq[Double]): Double =
    xs.sorted.apply(xs.length / 2)

  def main(args: Array[String]): Unit = {
    val Array(dir, mode) = args.take(2)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(5)
    val batchSize = args.lift(3).map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val statePath =
      java.nio.file.Files.createTempDirectory("graft_ingest_bench").toString

    /** Batch `i`'s id window, wrapped so small corpora still yield
      * `nBatches` non-empty slices (slices may then overlap across
      * batches — harmless: re-keyed ids stay unique and overlapping
      * verbatim content is exactly the drop work being measured). */
    def window(i: Int, nRows: Long): (Long, Long) = {
      val lo = (i.toLong * batchSize) % math.max(1L, nRows - batchSize + 1)
      (lo, lo + batchSize)
    }

    /** Batch `i`: `batchSize` corpus rows re-keyed past the corpus;
      * odd slots mutated so half the batch is novel content. */
    def docBatch(docs: DataFrame, nRows: Long, i: Int): Seq[(Long, String)] = {
      val (lo, hi) = window(i, nRows)
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
        .map { case (id, text) =>
          val nid = 1000000000L + i.toLong * 10L * batchSize + id
          (nid, if (id % 2 == 0) text else s"$text zq${i}mut")
        }.toSeq
    }

    def vecBatch(emb: DataFrame, nRows: Long, i: Int): Seq[(Long, Seq[Double])] = {
      val (lo, hi) = window(i, nRows)
      // double end to end: the driver's sf tables carry float arrays but
      // the ScaleData-perturbed soak corpora carry doubles; the screens
      // cast to array<double> internally either way
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
        .map { case (id, v) =>
          val nid = 1000000000L + i.toLong * 10L * batchSize + id
          (nid, if (id % 2 == 0) v
                else v.zipWithIndex.map { case (x, d) =>
                  if (d == 0) x + 0.05 else x })
        }.toSeq
    }

    var corpusRows = 0L
    var stateBefore = 0L
    // bm25 mode: per-batch READ latency next to the append cost — the
    // flatness claim the compaction story rests on
    val searchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // (per-batch seconds, state row count after all batches)
    val (times, stateAfter): (Seq[Double], Long) = mode match {
      case "exact" =>
        // stateless screen vs a static corpus + watermark dedup: drive
        // through a memory sink; "state" is the corpus fingerprint set,
        // which this screen never grows (it filters, callers upsert)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        corpusRows = docs.count()
        stateBefore = corpusRows
        val in = MemoryStream[(Long, java.sql.Timestamp, String)]
        val out = StreamPipeline.incrementalDedupStream(
          in.toDF().toDF("doc_id", "ts", "text"), "ts", "text",
          "10 seconds", docs, "text")
        val q = out.writeStream.format("memory").queryName("ingest_exact")
          .outputMode("append").start()
        try {
          val ts = new java.sql.Timestamp(1000000L)
          val t = (0 until nBatches).map { i =>
            val b = docBatch(docs, corpusRows, i).map { case (id, tx) => (id, ts, tx) }
            val t0 = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
          (t, corpusRows)
        } finally q.stop()

      case "minhash" =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        corpusRows = docs.count()
        // preload the standing state: kept corpus = the exact-keeper
        // docs (the stream's own invariant), store = their signatures
        val keepers = Dedup.exactDedup(docs, "doc_id", "text")
        VersionedTable.upsert(spark, s"$statePath/docs", keepers,
          Seq("doc_id"))
        VersionedTable.upsert(spark, s"$statePath/store",
          Dedup.minhashStore(keepers, "doc_id", "text"), Seq("id"))
        stateBefore = VersionedTable.read(spark, s"$statePath/docs")
          .get.count()
        val in = MemoryStream[(Long, String)]
        val q = StreamPipeline.minhashIngestStream(
            in.toDF().toDF("doc_id", "text"), "doc_id", "text",
            statePath, tau = 0.5)
          .start()
        try {
          val t = (0 until nBatches).map { i =>
            val b = docBatch(docs, corpusRows, i)
            val t0 = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
          (t, VersionedTable.read(spark, s"$statePath/docs").get.count())
        } finally q.stop()

      case "spans" =>
        // substring-duplication gate (r14): preload the per-doc span
        // store over the full corpus, then measure the marginal
        // per-batch screen + upsert cost at that state size
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        corpusRows = docs.count()
        VersionedTable.upsert(spark, s"$statePath/docs", docs,
          Seq("doc_id"))
        VersionedTable.upsert(spark, s"$statePath/store",
          Dedup.spanStorePerDoc(docs, "doc_id", "text"), Seq("id", "h"))
        stateBefore = VersionedTable.read(spark, s"$statePath/store")
          .get.count()
        val in = MemoryStream[(Long, String)]
        val q = StreamPipeline.spanIngestStream(
            in.toDF().toDF("doc_id", "text"), "doc_id", "text",
            statePath)
          .start()
        try {
          val t = (0 until nBatches).map { i =>
            val b = docBatch(docs, corpusRows, i)
            val t0 = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
          (t, VersionedTable.read(spark, s"$statePath/store").get.count())
        } finally q.stop()

      case "cosine" =>
        // weighted-text APSS screen (r13): preload the frozen-idf keeper
        // store over the exact-keeper corpus, then measure the marginal
        // per-batch screen + append cost at that state size
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        corpusRows = docs.count()
        val keepers = Dedup.exactDedup(docs, "doc_id", "text")
        VersionedTable.upsert(spark, s"$statePath/docs", keepers,
          Seq("doc_id"))
        VersionedTable.upsert(spark, s"$statePath/store",
          graft.operators.Relevance.cosineStore(keepers, "doc_id", "text"),
          Seq("id", "term"))
        stateBefore = VersionedTable.read(spark, s"$statePath/docs")
          .get.count()
        val in = MemoryStream[(Long, String)]
        // CAPPED regime: the screen is ingest-bounded (Σ over batch
        // postings × per-term store df), but on this dense-shared-
        // vocabulary corpus the hot terms make that ingest × corpus-df —
        // measured 202 s/batch uncapped vs 5.8 capped. The cap's
        // semantics trade shows in the state growth: verbatim dups still
        // drop (capped self-cosine = kept-energy share ≥ tau here), but
        // the one-token-mutated half is KEPT — its shared evidence lives
        // in common terms the cap removed. Dense-vocab corpora are
        // minhash's domain; the weighted screen's domain is long-tail
        // corpora, where the cap barely binds. This row measures the
        // screen MACHINERY's marginal cost, and the two regimes' numbers
        // + growth are the recorded trade.
        val q = StreamPipeline.cosineIngestStream(
            in.toDF().toDF("doc_id", "text"), "doc_id", "text",
            statePath, tau = 0.3, maxDf = 50L)
          .start()
        try {
          val t = (0 until nBatches).map { i =>
            val b = docBatch(docs, corpusRows, i)
            val t0 = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
          (t, VersionedTable.read(spark, s"$statePath/docs").get.count())
        } finally q.stop()

      case "bm25" =>
        // exact index growth (r14): index preloaded over the corpus,
        // then per-batch append cost AND read-path latency across the
        // accumulating batch directories ("state" = directory count —
        // the small-file gauge bm25Compact folds). The read latency must
        // stay flat-ish: each append adds a FILE SET, the term filter
        // prunes inside every one. Run with compaction off to measure
        // the raw growth the compactEvery knob controls.
        val idxPath = s"$statePath/bm25"
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        corpusRows = docs.count()
        graft.operators.Relevance.bm25Index(docs, "doc_id", "text", idxPath)
        stateBefore = graft.operators.Relevance
          .bm25IndexDirs(spark, idxPath).length.toLong
        val in = MemoryStream[(Long, String)]
        val q = StreamPipeline.bm25IngestStream(
            in.toDF().toDF("doc_id", "text"), "doc_id", "text", idxPath)
          .start()
        try {
          val t = (0 until nBatches).map { i =>
            val b = docBatch(docs, corpusRows, i)
            val t0 = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            val dt = (System.nanoTime() - t0) / 1e9
            val s0 = System.nanoTime()
            graft.operators.Relevance
              .bm25SearchIndexed(spark, idxPath, "dup vector key").count()
            searchSecs += (System.nanoTime() - s0) / 1e9
            dt
          }
          (t, graft.operators.Relevance
            .bm25IndexDirs(spark, idxPath).length.toLong)
        } finally q.stop()

      case "cosine_boiler" =>
        // the weighted screen's OWN domain (r14): a boilerplate-heavy
        // long-tail corpus, screened UNCAPPED — the regime the r13 row
        // measured at 202 s/batch on the dense corpus before the store's
        // persisted prefix bound existed. The boilerplate postings
        // (df = n/2 each) sit in every keeper's prefix, so the screen's
        // store join touches only long-tail content terms; ignores the
        // data dir (generated, like soak_apss_boiler).
        val docs = SoakAudit.boilerplateDocs(spark, 20000)
        corpusRows = docs.count()
        val keepers = Dedup.exactDedup(docs, "doc_id", "text")
        VersionedTable.upsert(spark, s"$statePath/docs", keepers,
          Seq("doc_id"))
        VersionedTable.upsert(spark, s"$statePath/store",
          graft.operators.Relevance.cosineStore(keepers, "doc_id", "text"),
          Seq("id", "term"))
        stateBefore = VersionedTable.read(spark, s"$statePath/docs")
          .get.count()
        val in = MemoryStream[(Long, String)]
        val q = StreamPipeline.cosineIngestStream(
            in.toDF().toDF("doc_id", "text"), "doc_id", "text",
            statePath, tau = 0.5)
          .start()
        try {
          val t = (0 until nBatches).map { i =>
            val b = docBatch(docs, corpusRows, i)
            val t0 = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
          (t, VersionedTable.read(spark, s"$statePath/docs").get.count())
        } finally q.stop()

      case "semantic" =>
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        corpusRows = emb.count()
        // preload: sqrt-n frozen quantizer (the production sizing — the
        // r11 broadcast-argmax default path) + the assigned kept corpus
        val cents = Similarity.trainQuantizer(emb, "vec_id", "embedding",
          nCentroids = -1)
        println(s"[ingest] quantizer cells=${cents.length}")
        Similarity.centroidsToDF(cents, spark)
          .repartition(1).write.mode("overwrite")
          .parquet(s"$statePath/_quantizer")
        VersionedTable.upsert(spark, s"$statePath/corpus",
          Similarity.assignToQuantizer(emb, "vec_id", "embedding", cents),
          Seq("vec_id"))
        stateBefore = VersionedTable.read(spark, s"$statePath/corpus")
          .get.count()
        val in = MemoryStream[(Long, Seq[Double])]
        val q = StreamPipeline.semanticIngestStream(
            in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
            tau = 0.9, statePath)
          .start()
        try {
          val t = (0 until nBatches).map { i =>
            val b = vecBatch(emb, corpusRows, i)
            val t0 = System.nanoTime()
            in.addData(b)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
          (t, VersionedTable.read(spark, s"$statePath/corpus").get.count())
        } finally q.stop()

      case "ann_points" =>
        // batched index-bound ANN point query (r16, VERDICT r15 #1):
        // query-batch sizes grow geometrically (batchSize << i) against
        // a FIXED persisted det-PQ index, so the row shows cost tracking
        // CANDIDATE/shortlist volume (∝ nQueries · probed-list mass),
        // not the corpus. Coarse sizing is the PRODUCTION ~sqrt(n) rule
        // (the r11 trainQuantizer default), NOT the det gate's 16-cell
        // determinism device — 16 cells on a 200k corpus makes every
        // probe drag nProbe/16 of the corpus through the ADC window,
        // which measures list size, not the operator. search_sec carries
        // the contrast: searchPqIndex's corpus-scan re-rank on the
        // LARGEST query set — the shape a curation batch had to pay
        // before searchPqIndexPoints.
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        corpusRows = emb.count()
        val nCells = math.max(16,
          math.min(256, math.ceil(math.sqrt(corpusRows.toDouble)).toInt))
        println(s"[ingest] ann_points coarse cells=$nCells")
        val (model, idx0) = Similarity.buildPqIndex(emb, "vec_id",
          "embedding", nCentroids = nCells, m = 8, kSub = 16,
          trainIters = 0, pqIters = 0)
        idx0.write.mode("overwrite").parquet(s"$statePath/pq_index")
        val idx = spark.read.parquet(s"$statePath/pq_index")
        stateBefore = idx.count()
        def queryIds(size: Int): org.apache.spark.sql.DataFrame = {
          val stride = math.max(1L, corpusRows / size)
          emb.select(col("vec_id")).filter(pmod(col("vec_id"),
            lit(stride)) === 0)
        }
        // untimed warmup: plan-family codegen + parquet footers
        Similarity.searchPqIndexPoints(model, idx, emb, "vec_id",
          "embedding", queryIds(batchSize), k = 5).count()
        val t = (0 until nBatches).map { i =>
          val qs = queryIds(batchSize << i)
          System.gc()
          val t0 = System.nanoTime()
          val n = Similarity.searchPqIndexPoints(model, idx, emb,
            "vec_id", "embedding", qs, k = 5).count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(s"[ingest] ann_points nq=${qs.count()} rows=$n " +
            f"sec=$sec%.3f")
          sec
        }
        // contrast: the corpus-scan re-rank form at the largest width
        val bigPred = pmod(col("id"),
          lit(math.max(1L, corpusRows / (batchSize << (nBatches - 1))))) === 0
        val t0 = System.nanoTime()
        Similarity.searchPqIndex(model, idx, emb, "vec_id", "embedding",
          bigPred, k = 5).count()
        searchSecs += (System.nanoTime() - t0) / 1e9
        (t, idx.count())

      case "maxsim" =>
        // batched late-interaction MaxSim (r16): query-DOC batch widths
        // grow geometrically against a fixed persisted index over the
        // scaled token table (doc = vec_id DIV 10). The indexed batch's
        // cost should track candidate-pair volume (nQueryTokens ·
        // kTok·rf votes), never the corpus; search_sec carries the
        // contrast — the EXACT batch form at the LARGEST width, which
        // scores every query bag against the full token table.
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(expr("vec_id DIV 10").as("mdoc"), col("vec_id"),
            col("embedding"))
        corpusRows = emb.count()
        val nDocs = corpusRows / 10
        val nCells = math.max(16,
          math.min(256, math.ceil(math.sqrt(corpusRows.toDouble)).toInt))
        println(s"[ingest] maxsim coarse cells=$nCells docs=$nDocs")
        val (model, idx0) = Similarity.buildPqIndex(emb, "vec_id",
          "embedding", nCentroids = nCells, m = 8, kSub = 16,
          trainIters = 0, pqIters = 0)
        idx0.write.mode("overwrite").parquet(s"$statePath/pq_index")
        val idx = spark.read.parquet(s"$statePath/pq_index")
        stateBefore = idx.count()
        def queryDocs(size: Int): org.apache.spark.sql.DataFrame = {
          val stride = math.max(1L, nDocs / size)
          emb.select(col("mdoc")).distinct()
            .filter(pmod(col("mdoc"), lit(stride)) === 0)
        }
        // untimed warmup: plan-family codegen + parquet footers
        Similarity.maxSimTopKIndexedBatch(model, idx, emb, "mdoc",
          "vec_id", "embedding", queryDocs(batchSize), k = 10,
          kTok = 10, nProbe = 4, rerankFactor = 2).count()
        val t = (0 until nBatches).map { i =>
          val qs = queryDocs(batchSize << i)
          System.gc()
          val t0 = System.nanoTime()
          val n = Similarity.maxSimTopKIndexedBatch(model, idx, emb,
            "mdoc", "vec_id", "embedding", qs, k = 10,
            kTok = 10, nProbe = 4, rerankFactor = 2).count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(s"[ingest] maxsim nq=${qs.count()} rows=$n " +
            f"sec=$sec%.3f")
          sec
        }
        // contrast: the exact (full token scan) batch at the largest width
        val t0 = System.nanoTime()
        Similarity.maxSimTopKBatch(emb, "mdoc", "vec_id", "embedding",
          queryDocs(batchSize << (nBatches - 1)), k = 10).count()
        searchSecs += (System.nanoTime() - t0) / 1e9
        (t, idx.count())

      case other => sys.error(s"unknown mode: $other")
    }

    val secs = times.map(t => f"$t%.3f").mkString("[", ",", "]")
    val extra =
      if (searchSecs.isEmpty) ""
      else searchSecs.map(t => f"$t%.3f")
        .mkString(""","search_sec":[""", ",", "]")
    println(s"""{"bench":"ingest","mode":"$mode","dir":"$dir",""" +
      s""""corpus_rows":$corpusRows,"batches":$nBatches,""" +
      s""""batch_size":$batchSize,"batch_sec":$secs,""" +
      f""""median_sec":${median(times)}%.3f,""" +
      s""""state_before":$stateBefore,"state_after":$stateAfter$extra}""")
    spark.stop()
  }
}
