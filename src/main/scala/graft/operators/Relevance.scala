package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus relevance scoring — TF-IDF and BM25 term weights with a top-k
 * characteristic-term extraction per document. A training-data pipeline
 * uses these for corpus statistics, keyword-based filtering, and
 * lightweight retrieval labels; the operator is the classic
 * "explode → two aggregations → join the term dictionary back" shape.
 *
 * Scale design (100 TB lens):
 *  - One explode over tokens; term frequencies partial-aggregate map-side
 *    before the (doc, term) exchange — the only corpus-sized shuffle.
 *  - Document lengths reuse the tf aggregate (sum over the already-reduced
 *    (doc, term) rows), not a second pass over raw tokens.
 *  - The term dictionary (document frequencies) is orders of magnitude
 *    smaller than the corpus; its join back is a plain equi-join Catalyst /
 *    AQE can broadcast when it fits. Corpus-level scalars (N, avgdl) ride
 *    in as a broadcast single-row cross join.
 *  - Ranking is per-doc (`Window.partitionBy(doc)`), so the final sort is
 *    a partition-local top-k, never a global sort.
 *
 * Determinism: scores are rounded to 6 decimals BEFORE ranking and the
 * rank tie-breaks on the term string, so the emitted top-k is reproducible
 * across engines and runs (a bit-exactness requirement for the oracle gate
 * and an operational one for reproducible data builds).
 */
object Relevance {

  /**
   * BM25 top-k terms per document. Emits
   * (doc_id, term, tf, df, bm25_r, rn) for the k highest-scoring terms of
   * each document, rank ordered by (score desc, term asc).
   *
   * idf = ln(1 + (N − df + 0.5)/(df + 0.5))  (Robertson–Sparck Jones)
   * score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
   */
  def bm25TopTerms(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
                   minDf: Long = 1L): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    // Lazy localCheckpoint (r16, guide §1.2 "don't compute things
    // twice"): tf feeds dl, df, AND the scored join — without the
    // checkpoint each consumer re-runs the corpus tokenize + explode +
    // tf aggregate as its own subtree (three near-identical exchanges
    // at sf0.1; exchange reuse can't fire because column pruning gives
    // each subtree a different projection). Materializing the posting
    // frame is exactly what the persisted index form does — this is the
    // in-session analogue. Batch-only guard: streaming frames can't
    // checkpoint.
    val tf0 = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf = if (tf0.isStreaming) tf0 else tf0.localCheckpoint(false)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // Bounded-vocabulary knob (default off, oracle gate unchanged):
    // `minDf > 1` prunes terms seen in fewer than minDf docs BEFORE the
    // join-back, so the scored row set — and the per-doc ranking window
    // behind it — stops scaling with the hapax tail of the vocabulary
    // (the 100×-sweep superlinearity was exactly that tail; cf. the
    // bigram LM's minCount pruning). Semantics under pruning: rare terms
    // drop from every document's candidate set — deliberate for a
    // quality-signal use (hapaxes are typos/OOV noise with near-maximal
    // idf that would otherwise crowd out characteristic terms); df and
    // n_docs are still computed over the FULL corpus, so surviving
    // terms' scores are identical to the unpruned run's. COVERAGE
    // CAVEAT (ADVICE r10): a document whose EVERY term falls below
    // minDf disappears from the output entirely (the dfreq join-back is
    // inner) — downstream joins keyed on doc_id must treat absence as
    // "no characteristic terms", or left-join from the doc table; the
    // default minDf = 1 emits every non-empty document.
    val dfreqAll = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dfreq = if (minDf > 1L) dfreqAll.filter(col("df") >= minDf) else dfreqAll
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val scored = tf
      .join(dl, "doc_id")
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("bm25_r", round(
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("bm25_r").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("bm25_r"), col("rn"))
  }

  /**
   * BM25 retrieval: the top-k documents for a QUERY STRING — the search
   * direction of [[bm25TopTerms]] (which ranks terms within a doc). Emits
   * (doc_id, score, rn) for the k highest-scoring documents, rank ordered
   * by (score desc, doc_id asc); score = Σ over matched query terms of
   * the per-term BM25 weight (same idf/k1/b formula as [[bm25TopTerms]],
   * per-term weights rounded to 6 decimals before the sum, the sum
   * rounded again — reproducible across engines).
   *
   * Scale shape: the query's term set is a driver-side literal, so the
   * token filter runs INSIDE the map-side array (tokens are filtered
   * against the query set before the explode) — the explode emits only
   * matching (doc, term) rows and `dl` rides along from the same pass,
   * so no corpus-sized join materializes. Corpus scalars (N, avgdl) are
   * one map-side aggregate over doc lengths; per-query-term df is an
   * aggregate of the already-tiny matched stream; both broadcast back.
   * The final top-k is `orderBy.limit` (TakeOrdered: per-partition heaps
   * + a k-row driver merge), never a global sort. Repeated queries over
   * a frozen corpus should use [[bm25Index]]/[[bm25SearchIndexed]],
   * which replace the corpus scan with a term-pruned index read.
   */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 query: String, k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "bm25Search needs a non-empty query")
    // ONE corpus pass (r16, guide §1.2): the corpus-stats aggregate and
    // the matched-term stream both need the tokenized doc, and computing
    // them as separate subtrees tokenized the whole corpus twice. One
    // scan now emits (doc_id, dl, matched-terms array) — bytes per row
    // are a long plus the (almost always empty) query-term matches —
    // and a lazy checkpoint lets the stats aggregate materialize it for
    // the matched explode to reuse. Arithmetic unchanged; batch-only
    // guard for streaming frames.
    val base0 = docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        filter(col("tk"), t => t.isInCollection(qTerms)).as("mt"))
    val base = if (base0.isStreaming) base0 else base0.localCheckpoint(false)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val matched = base.select(col("doc_id"), col("dl"),
      explode(col("mt")).as("term"))
    val tfq = matched.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val dfq = tfq.groupBy("term").agg(count(lit(1)).as("df"))
    rankBm25Scores(scoreBm25(tfq, dfq, stats, k1, b), k)
  }

  /** Shared scoring tail of the scanned and indexed search paths:
    * per-(doc, term) BM25 weight from a (doc_id, dl, term, tf) stream
    * plus broadcast df / corpus stats. */
  private def scoreBm25(tfq: DataFrame, dfq: DataFrame, stats: DataFrame,
                        k1: Double, b: Double): DataFrame =
    tfq.join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("ts", round(
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)))
          * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))), 6))

  private def rankBm25Scores(scored: DataFrame, k: Int): DataFrame = {
    val agg = scored.groupBy("doc_id").agg(round(sum(col("ts")), 6).as("score"))
    Similarity.takeTopK(agg, "score", "doc_id", k)
      .select(col("doc_id"), col("score"), col("rn"))
  }

  /**
   * Persist the BM25 inverted index for a corpus — the committed-batch
   * layout (r14): postings live in per-batch term-clustered parquet
   * directories under `path/batches/<batchId>/`, and a tiny VERSIONED
   * MANIFEST at `path/_meta` (one row per applied batch: batch_id, dir,
   * n_docs, sum_dl, n_dl) is the single source of truth — readers list
   * the manifest and read exactly the directories it names, so a batch
   * is visible IF AND ONLY IF its manifest row committed. That makes
   * [[bm25IndexAppend]] failure-ATOMIC (a crash between the postings
   * write and the manifest commit leaves an invisible orphan directory
   * the replay overwrites) and IDEMPOTENT (a replayed batch_id is a
   * detected no-op) — ADVICE r13: the previous layout committed the
   * postings `append` BEFORE the `_stats` overwrite, so a crash between
   * the two — or re-running an append after any failure — left
   * duplicated postings / stale stats with no detection. Corpus scalars
   * are per-batch integer sums merged at READ time
   * ([[bm25IndexStats]]), removing the stats file and its crash window
   * entirely.
   *
   * The term-clustered sort within each batch directory is the scale
   * lever, unchanged: every row group's term min/max is tight, so a
   * query's `term IN (...)` pushes down to parquet footers in EVERY
   * batch directory — [[bm25SearchIndexed]] reads O(postings of the
   * query terms), not the corpus. What grows with batch count is the
   * NUMBER of file sets, never the bytes a query matches —
   * [[bm25Compact]] folds them back into one.
   *
   * `bm25Index` itself = clear + first batch (`"base"`): a REBUILD,
   * dropping any prior manifest, batch directories, and pre-r14 layout
   * files at `path`.
   */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String,
                path: String): Unit = {
    val spark = docs.sparkSession
    val f = hadoopFs(spark, path)
    // "_trash" included (ADVICE r15): a stale ledger surviving a rebuild
    // on a reused path would let the NEW index's first compact reclaim
    // directories one cycle early, voiding the deferred-vacuum grace.
    Seq("_meta", "batches", "postings", "_stats", "_trash").foreach { d =>
      f.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true); ()
    }
    val applied = bm25IndexAppend(spark, path, docs, idCol, textCol, "base")
    assert(applied, "a fresh index cannot be a replay")
  }

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
                       path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed manifest, or None for an absent index. Refuses a
    * pre-r14 layout loudly (flat postings + `_stats`, no manifest) —
    * silently treating it as absent would shadow the old corpus. */
  private def bm25Manifest(spark: org.apache.spark.sql.SparkSession,
                           path: String): Option[DataFrame] = {
    val m = graft.sources.VersionedTable.read(spark, s"$path/_meta")
    if (m.isEmpty)
      require(!hadoopFs(spark, path)
          .exists(new org.apache.hadoop.fs.Path(s"$path/_stats")),
        s"$path holds a pre-r14 BM25 index (flat postings + _stats, no " +
          "batch manifest) — rebuild it once with bm25Index")
    m
  }

  private def bm25ManifestOrFail(spark: org.apache.spark.sql.SparkSession,
                                 path: String): DataFrame =
    bm25Manifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no BM25 index at $path"))

  /** Committed postings directories of a [[bm25Index]] (one per batch
    * since the last [[bm25Compact]]) — the small-file pressure gauge
    * the streaming ingest's compaction trigger reads. */
  def bm25IndexDirs(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[String] =
    bm25ManifestOrFail(spark, path).select(col("dir")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  /** Merged corpus scalars from the manifest — one row (n_docs, avgdl,
    * sum_dl, n_dl). Integer sums merge exactly in any order, and
    * `avgdl = sum_dl / n_dl` is bit-equal to `avg` over the union
    * corpus: integer-valued double partials below 2⁵³ add exactly, and
    * `avg` SKIPS null-dl rows (a null-text doc has null `size`) — the
    * reason `n_dl` exists separately from `n_docs` (ADVICE r11/r13
    * lineage). An all-token-less corpus yields null avgdl, matching
    * `avg` of an empty set. */
  def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    bm25ManifestOrFail(spark, path).agg(
      sum(col("n_docs")).as("n_docs"),
      when(sum(col("n_dl")) === 0L, lit(null).cast("double"))
        .otherwise(sum(col("sum_dl")).cast("double")
          / sum(col("n_dl")).cast("double")).as("avgdl"),
      sum(col("sum_dl")).as("sum_dl"),
      sum(col("n_dl")).as("n_dl"))

  /**
   * Grow a [[bm25Index]] — EXACTLY, atomically, idempotently. The BM25
   * index is a SUFFICIENT STATISTIC: per-doc postings (term, tf, dl)
   * depend only on the document itself, per-term df derives from the
   * postings at query time, and the corpus scalars merge as exact
   * integer sums — so an appended index answers bit-identically to a
   * fresh build over the union (spec- and oracle-pinned, null-text docs
   * included), and NO drift signal or rebuild trigger exists for this
   * family (deliberate contrast with the frozen-idf [[cosineStore]]).
   *
   * Commit protocol (ADVICE r13): the batch's postings write to their
   * OWN directory first — invisible, because readers only follow the
   * manifest — then one versioned manifest upsert makes them live
   * together with the batch's stats row. A replayed `batchId`
   * (foreachBatch is at-least-once) is detected against the manifest
   * and no-ops, returning false; a crash before the manifest commit
   * leaves an orphan directory the replay simply overwrites. Appended
   * ids must be NEW (the corpus contract) — a repeated id under a
   * FRESH batchId would still double its postings. Cost is O(batch):
   * the batch's postings plus a manifest rewrite sized by the number of
   * applied batches, never the corpus.
   *
   * Returns true if the batch was applied, false for a replay no-op.
   * Creates the index when `path` holds none (the streaming ingest's
   * first batch); refuses a pre-r14 layout loudly.
   */
  def bm25IndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                      docs: DataFrame, idCol: String, textCol: String,
                      batchId: String): Boolean = {
    require(batchId.nonEmpty && batchId.matches("[A-Za-z0-9._-]+") &&
      !batchId.startsWith("_"),
      s"batchId must be a path-safe token not starting with '_': $batchId")
    val replayed = bm25Manifest(spark, path).exists(m =>
      m.filter(col("batch_id") === batchId).limit(1).count() > 0L)
    if (replayed) return false
    val dirName = s"batches/$batchId"
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/$dirName")
    // stats derive from the DOC frame, exactly as [[bm25Search]]
    // computes them — postings-derived stats would exclude any doc
    // whose tokens explode to nothing (null/empty text), shifting idf
    // and avgdl (ADVICE r11); `count(dl)` skips null-text rows the way
    // `avg` does.
    val r = docs.select(
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"),
        count(col("dl")).as("n_dl"))
      .head()
    import spark.implicits._
    graft.sources.VersionedTable.upsert(spark, s"$path/_meta",
      Seq((batchId, dirName, r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("batch_id", "dir", "n_docs", "sum_dl", "n_dl"),
      Seq("batch_id"))
    true
  }

  /**
   * Fold a [[bm25Index]]'s accumulated batch directories back into ONE
   * term-clustered file set — small-file compaction for the streaming
   * ingest path. N appended batches = N file sets: each keeps its own
   * tight term row groups, but footer-pruning work and file-open
   * overhead grow with N. Compaction reads the union, re-clusters and
   * re-sorts by term, writes ONE new directory, and re-points every
   * manifest row's `dir` at it in one versioned commit — batch
   * identities and per-batch stats are PRESERVED, so replay detection
   * and the merged scalars survive compaction unchanged. The query
   * answer is bit-identical before and after (the postings ROW SET is
   * unchanged; df and scores derive from it at query time) — gate- and
   * spec-pinned.
   *
   * Crash windows: before the manifest commit the compacted directory
   * is an invisible orphan (a re-run overwrites it — the target name
   * derives from the manifest VERSION, not a clock); after it, the old
   * directories are unreferenced debris. Vacuum is DEFERRED by one
   * compaction cycle (r15, VERDICT r14 #5 — the lakehouse retention
   * discipline): the replaced directories are recorded in a trash
   * ledger (`_trash/v<version>`) at commit time, and `vacuum = true`
   * (default) deletes only the directories PREVIOUS compactions
   * recorded — so a reader that listed the pre-compact manifest keeps
   * its directories readable for at least a full compaction interval,
   * and the delete-after-commit race the r14 caveat documented no
   * longer exists on the default path. [[bm25Vacuum]] is the explicit
   * reclaim-now call for callers who know no reader is pinned.
   * Returns false (no-op) when the index already holds one directory.
   */
  def bm25Compact(spark: org.apache.spark.sql.SparkSession, path: String,
                  vacuum: Boolean = true): Boolean = {
    val manifest = bm25ManifestOrFail(spark, path)
    val dirs = bm25IndexDirs(spark, path)
    if (dirs.length <= 1) return false
    val next = graft.sources.VersionedTable
      .versions(spark, s"$path/_meta").last + 1
    val target = s"batches/_compact_v$next" // '_' prefix: no batchId collision
    spark.read.parquet(dirs.map(d => s"$path/$d"): _*)
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/$target")
    graft.sources.VersionedTable.upsert(spark, s"$path/_meta",
      manifest.withColumn("dir", lit(target)), Seq("batch_id"))
    // Trash ledger AFTER the manifest commit: a crash between the two
    // leaves this compaction's replaced dirs as permanent (harmless)
    // debris rather than ever risking a live directory.
    import spark.implicits._
    dirs.toDF("dir").repartition(1)
      .write.mode("overwrite").parquet(s"$path/_trash/v$next")
    if (vacuum) bm25Vacuum(spark, path, beforeVersion = next)
    true
  }

  private val bm25TrashRe = "^v([0-9]+)$".r

  /**
   * Reclaim directories earlier [[bm25Compact]] calls replaced —
   * explicitly, like `VersionedTable.vacuum`. Deletes every trash
   * ledger entry recorded under a compaction version `< beforeVersion`
   * (default: everything), skipping — defensively — any directory the
   * CURRENT manifest still references. The default `bm25Compact` path
   * calls this with the in-flight version, which reclaims strictly
   * older cycles; call it directly with the default to reclaim the most
   * recent compaction's debris once no reader can be pinned to the
   * pre-compact manifest. A half-written ledger entry (no `_SUCCESS`)
   * is dropped unread — its directories stay as debris rather than risk
   * acting on a torn list. A directory the CURRENT manifest still
   * references is skipped defensively AND its ledger entry rewritten in
   * place to the surviving dirs (r16, VERDICT r15 #6) — a later vacuum
   * retries it once it is no longer referenced, instead of the entry
   * deletion leaking it as permanent debris.
   */
  def bm25Vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
                 beforeVersion: Long = Long.MaxValue): Unit = {
    val f = hadoopFs(spark, path)
    val trashRoot = new org.apache.hadoop.fs.Path(s"$path/_trash")
    if (!f.exists(trashRoot)) return
    val referenced = bm25IndexDirs(spark, path).toSet
    import spark.implicits._
    f.listStatus(trashRoot).toSeq.foreach { st =>
      st.getPath.getName match {
        case bm25TrashRe(v) if v.toLong < beforeVersion =>
          val committed = f.exists(
            new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
          val survivors = if (committed) {
            val (live, dead) = spark.read.parquet(st.getPath.toString)
              .select(col("dir")).collect().map(_.getString(0)).toSeq
              .partition(referenced)
            dead.foreach { d =>
              f.delete(new org.apache.hadoop.fs.Path(s"$path/$d"), true); ()
            }
            live
          } else Seq.empty // torn entry: drop unread, dirs stay as debris
          if (survivors.isEmpty) { f.delete(st.getPath, true); () }
          else {
            // keep the SAME version name: every later vacuum's
            // `< beforeVersion` window still covers it, so the retry is
            // automatic the moment the manifest stops referencing them
            survivors.toDF("dir").repartition(1)
              .write.mode("overwrite").parquet(st.getPath.toString)
          }
        case _ => ()
      }
    }
  }

  /** Query a [[bm25Index]]: identical output contract to [[bm25Search]]
    * over the corpus the index holds (spec-pinned equivalence,
    * null-text docs included — the manifest stats come from doc
    * frames), with the corpus scan replaced by a term-pruned read of
    * exactly the manifest's committed directories — orphans from
    * crashed appends/compactions are invisible by construction. */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                        query: String, k: Int = 10,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "bm25SearchIndexed needs a non-empty query")
    val tfq = spark.read
      .parquet(bm25IndexDirs(spark, path).map(d => s"$path/$d"): _*)
      .filter(col("term").isin(qTerms: _*))
    val dfq = tfq.groupBy("term").agg(count(lit(1)).as("df"))
    rankBm25Scores(
      scoreBm25(tfq, dfq, bm25IndexStats(spark, path), k1, b), k)
  }

  /**
   * Per-group diversity cap over a ranked retrieval result (r16): at
   * most `maxPerGroup` documents per group (source, domain, shard …)
   * survive, ranked by the ORIGINAL score, then the global top-k
   * re-ranks what's left — the source-diversity quota a curation
   * pipeline applies so one dominant domain can't fill a result list.
   * `ranked` carries the candidate set (its doc-id and score columns
   * named); `meta` maps doc id → group. Scale shape: the candidate set
   * is k-bounded, so it BROADCASTS into the corpus-sized meta scan
   * (map-only, with the candidates' id range pushed as a scan
   * predicate); every window after that is candidate-set-sized. Output
   * (doc_id, grp, score, grn, rn).
   */
  def capPerGroup(ranked: DataFrame, docIdCol: String, scoreCol: String,
                  meta: DataFrame, metaIdCol: String, groupCol: String,
                  maxPerGroup: Int, k: Int): DataFrame = {
    require(maxPerGroup > 0 && k > 0, "capPerGroup needs positive caps")
    val r = ranked.select(col(docIdCol).cast("long").as("doc_id"),
      col(scoreCol).as("score"))
    val m = meta.select(col(metaIdCol).cast("long").as("doc_id"),
      col(groupCol).as("grp"))
    // bounded-model: one 2-long agg of the k-bounded candidate set,
    // pushed into the meta scan so the map-only join also row-group
    // prunes
    val mRanged = Similarity.minMax(r, "doc_id") match {
      case Some((lo, hi)) =>
        m.filter(col("doc_id") >= lo && col("doc_id") <= hi)
      case None => m.filter(lit(false))
    }
    val joined = mRanged.join(broadcast(r), Seq("doc_id"))
    val wg = Window.partitionBy(col("grp"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val capped = joined.withColumn("grn", row_number().over(wg))
      .filter(col("grn") <= maxPerGroup)
    Similarity.takeTopK(capped, "score", "doc_id", k)
      .select(col("doc_id"), col("grp"), col("score"), col("grn"),
        col("rn"))
  }

  /**
   * [[bm25SearchIndexed]] for a BATCH of queries (r16) — the curation
   * form: thousands of retrieval queries answered from ONE term-pruned
   * index read instead of one read (and one driver round-trip) per
   * query. `queries` carries (query id, query text) in its first two
   * columns. The batch's union TERM SET is collected once — bounded-
   * model tier: the query batch's vocabulary, the same contract as the
   * single form's driver-literal terms — and pushed into the postings
   * scan as the footer-pruned `term IN (...)` filter, so the read is
   * O(postings of the batch's terms), never the corpus, and each term's
   * postings are read ONCE however many queries share it. The matched
   * postings join the broadcast (query_id, term) pairs so each query
   * scores only ITS terms; df per term comes from the same pruned read
   * (the single form's derivation, shared across queries); the
   * per-query top-k is a rank window (WindowGroupLimit bounds the
   * exchange to ≤ k rows per query per map partition). Output
   * (query_id, doc_id, score, rn) — bit-equal per query to
   * [[bm25SearchIndexed]] (spec-pinned), and the `bm25_search_batch`
   * gate's oracle is the certified single-query oracle replayed per
   * query and unioned BY TRANSFORM.
   */
  def bm25SearchIndexedBatch(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame,
                             k: Int = 10,
                             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val Seq(qidC, qC) = queries.columns.take(2).toSeq
    val qtPairs = queries.select(col(qidC).cast("long").as("query_id"),
        explode(split(col(qC), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val allTerms = qtPairs.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (allTerms.isEmpty) {
      // fold semantics over the query set: an EMPTY batch (a curation
      // loop's empty partition) is an empty result, not an error —
      // matching searchPqIndexPoints' degradation. A NON-empty batch
      // whose every query is blank keeps the single form's per-query
      // contract (bm25SearchIndexed requires a non-empty query) and
      // fails loudly.
      require(queries.isEmpty,
        "bm25SearchIndexedBatch needs at least one non-empty query term")
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("query_id", "doc_id", "score", "rn")
    }
    val tfAll = spark.read
      .parquet(bm25IndexDirs(spark, path).map(d => s"$path/$d"): _*)
      .filter(col("term").isin(allTerms: _*))
    val dfq = tfAll.groupBy("term").agg(count(lit(1)).as("df"))
    val tfq = tfAll.join(broadcast(qtPairs), "term")
    val scored = scoreBm25(tfq, dfq, bm25IndexStats(spark, path), k1, b)
    val agg = scored.groupBy("query_id", "doc_id")
      .agg(round(sum(col("ts")), 6).as("score"))
    Similarity.rankWithin(agg, "query_id", "score", "doc_id", k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rn"))
  }

  /**
   * [[hybridSearchAnn]] for a BATCH of hybrid queries (r16) — the full
   * index-bound retrieval stack at curation width. `queries` carries
   * (query id, query text, query vec id) in its first three columns.
   * Lexical side: [[bm25SearchIndexedBatch]] — ONE term-pruned index
   * read for the whole batch. Semantic side:
   * [[Similarity.searchPqIndexPoints]] — distributed per-query ADC
   * shortlists + range-pruned broadcast re-rank, joined back to the
   * hybrid query ids through the broadcast query frame (two hybrid
   * queries may share a query vector; each gets the shared list).
   * Fusion is the same fixed-(lex, sem)-order rrf sum and 6-dp round as
   * the single form, ranked per query. Output (query_id, doc_id,
   * rn_lex, rn_sem, rrf, rn) — bit-equal per query to
   * [[hybridSearchAnn]] (spec-pinned), oracle built by TRANSFORM from
   * the certified single-query ANN-hybrid oracle.
   */
  def hybridSearchAnnPoints(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String,
                            model: Similarity.PqModel, pqIndex: DataFrame,
                            embeddings: DataFrame,
                            queries: DataFrame,
                            vecIdCol: String = "vec_id",
                            vecCol: String = "embedding",
                            kLex: Int = 20, kSem: Int = 20, k: Int = 10,
                            rrfK: Int = 60,
                            nProbe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    require(k > 0 && kLex > 0 && kSem > 0,
      "hybridSearchAnnPoints needs positive k")
    val Seq(qidC, qC, vidC) = queries.columns.take(3).toSeq
    val q = queries.select(col(qidC).cast("long").as("query_id"),
      col(qC).as("qtext"), col(vidC).cast("long").as("qvec"))
    val lex = bm25SearchIndexedBatch(spark, indexPath,
        q.select(col("query_id"), col("qtext")), k = kLex)
      .select(col("query_id"), col("doc_id"), col("rn").as("rn_lex"))
    val sem = Similarity.searchPqIndexPoints(model, pqIndex, embeddings,
        vecIdCol, vecCol, q.select(col("qvec")), k = kSem,
        nProbe = nProbe, rerankFactor = rerankFactor)
      .withColumnRenamed("query_id", "qvec")
      .join(broadcast(q.select(col("query_id"), col("qvec"))), "qvec")
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rn").as("rn_sem"))
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", rrfScore(rrfK))
    Similarity.rankWithin(fused, "query_id", "rrf", "doc_id", k)
      .select(col("query_id"), col("doc_id"), col("rn_lex"), col("rn_sem"),
        col("rrf"), col("rn"))
  }

  /**
   * Hybrid lexical + semantic retrieval with reciprocal-rank fusion
   * (Cormack/Clarke/Buettcher SIGIR 2009): a text query is answered by
   * BOTH the BM25 ranked list ([[bm25Search]]) and the exact cosine
   * ranked list of a query embedding over the embeddings table
   * ([[graft.operators.Similarity.bruteForceTopK]]), and the two lists
   * fuse by rrf(d) = Σ_lists 1/(rrfK + rank_list(d)) — a document absent
   * from a list contributes 0 for it. The standard retrieval stack of a
   * training-data/RAG pipeline: lexical recall catches exact terms the
   * embedding smooths away, semantic recall catches paraphrases BM25
   * cannot see, and RRF needs no score calibration between the two
   * incomparable scales (only ranks cross the boundary).
   *
   * `queryVecId` names the embeddings row serving as the query vector
   * (query-by-example); `docs.idCol` and `embeddings.vecIdCol` must share
   * a key space (the corpus↔embedding contract the reconcile gate pins).
   *
   * Scale design: each side is the already-scale-shaped distributed
   * top-k (BM25: map-side query-term filter, TakeOrdered; cosine: one
   * broadcast query row over the embeddings scan, per-partition heaps) —
   * the fusion itself touches only kLex + kSem rows, joined full-outer
   * and re-ranked in a single tiny partition. Deterministic: both input
   * ranks are the tie-broken oracle-certified ranks; the fused score
   * sums two exactly-reproducible doubles in a fixed (lex, sem) order
   * and rounds to 6 decimals before the final (rrf desc, doc_id asc)
   * rank.
   */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame,
                   query: String, queryVecId: Long,
                   idCol: String = "doc_id", textCol: String = "text",
                   vecIdCol: String = "vec_id", vecCol: String = "embedding",
                   kLex: Int = 20, kSem: Int = 20, k: Int = 10,
                   rrfK: Int = 60): DataFrame = {
    require(k > 0 && kLex > 0 && kSem > 0, "hybridSearch needs positive k")
    val lex = bm25Search(docs, idCol, textCol, query, k = kLex)
      .select(col("doc_id"), col("rn").as("rn_lex"))
    rrfFuse(lex, semSide(embeddings, queryVecId, vecIdCol, vecCol, kSem),
      k, rrfK)
  }

  /**
   * [[hybridSearch]] over a PERSISTED BM25 index — the amortized form:
   * the lexical side reads O(query-term postings) via
   * [[bm25SearchIndexed]] (bit-identical to the scanned list, the
   * certified equivalence) instead of re-scanning the corpus per query,
   * so repeated hybrid queries pay only the tiny fusion + the semantic
   * top-k. Same output, same oracle. The semantic side here is still
   * the exact full-corpus scan — [[hybridSearchAnn]] is the form whose
   * BOTH sides are index-bound.
   */
  def hybridSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String,
                          embeddings: DataFrame,
                          query: String, queryVecId: Long,
                          vecIdCol: String = "vec_id",
                          vecCol: String = "embedding",
                          kLex: Int = 20, kSem: Int = 20, k: Int = 10,
                          rrfK: Int = 60): DataFrame = {
    require(k > 0 && kLex > 0 && kSem > 0, "hybridSearchIndexed needs positive k")
    val lex = bm25SearchIndexed(spark, indexPath, query, k = kLex)
      .select(col("doc_id"), col("rn").as("rn_lex"))
    rrfFuse(lex, semSide(embeddings, queryVecId, vecIdCol, vecCol, kSem),
      k, rrfK)
  }

  /**
   * The fully index-bound hybrid form (r15, VERDICT r14 #1): the lexical
   * side reads O(query-term postings) from the persisted BM25 index and
   * the semantic side probes a persisted IVF-PQ index
   * ([[Similarity.searchPqIndexPointQuery]]) — `nProbe` coarse lists of
   * compressed codes, an exact re-rank over ONLY the collected shortlist
   * ids (pushed into the vector scan as an `IN` point filter) — so a
   * repeated hybrid query touches NO corpus-scale scan on either side:
   * the embeddings table is read at exactly 1 + kSem·rerankFactor rows,
   * both through PushedFilters (spec-pinned). The semantic list is the
   * ANN approximation of [[hybridSearch]]'s exact list (recall tunable
   * by nProbe/rerankFactor, spec-pinned ≡ exact at full probe width);
   * fusion and determinism contracts are identical, and the gate's
   * deterministic model (trainIters = pqIters = 0) lets DuckDB replay
   * the whole path — coarse probe, ADC, shortlist, point re-rank,
   * fusion — bit for bit.
   */
  def hybridSearchAnn(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String,
                      model: Similarity.PqModel, pqIndex: DataFrame,
                      embeddings: DataFrame,
                      query: String, queryVecId: Long,
                      vecIdCol: String = "vec_id",
                      vecCol: String = "embedding",
                      kLex: Int = 20, kSem: Int = 20, k: Int = 10,
                      rrfK: Int = 60,
                      nProbe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    require(k > 0 && kLex > 0 && kSem > 0, "hybridSearchAnn needs positive k")
    val lex = bm25SearchIndexed(spark, indexPath, query, k = kLex)
      .select(col("doc_id"), col("rn").as("rn_lex"))
    val sem = Similarity.searchPqIndexPointQuery(model, pqIndex, embeddings,
        vecIdCol, vecCol, queryVecId, k = kSem,
        nProbe = nProbe, rerankFactor = rerankFactor)
      .select(col("neighbor_id").as("doc_id"), col("rn").as("rn_sem"))
    rrfFuse(lex, sem, k, rrfK)
  }

  /** The semantic side: exact cosine top-k of the query-by-example row. */
  private def semSide(embeddings: DataFrame, queryVecId: Long,
                      vecIdCol: String, vecCol: String,
                      kSem: Int): DataFrame =
    Similarity.bruteForceTopK(embeddings, vecIdCol, vecCol,
        col("id") === queryVecId, k = kSem)
      .select(col("neighbor_id").as("doc_id"), col("rn").as("rn_sem"))

  /** The rrf score of a (rn_lex, rn_sem) row, a missing rank adding 0. */
  private def rrfScore(rrfK: Int): Column = round(
    coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("rn_lex").cast("double")), lit(0.0))
      + coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("rn_sem").cast("double")), lit(0.0)),
    6)

  /** Reciprocal-rank fusion of the two ranked lists (shared by the
    * scanned and indexed forms — the fixed (lex, sem) summation order
    * and 6-dp round of [[rrfScore]] are the determinism contract). */
  private def rrfFuse(lex: DataFrame, sem: DataFrame,
                      k: Int, rrfK: Int): DataFrame = {
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf", rrfScore(rrfK))
    Similarity.takeTopK(fused, "rrf", "doc_id", k)
      .select(col("doc_id"), col("rn_lex"), col("rn_sem"), col("rrf"), col("rn"))
  }

  /**
   * Corpus vocabulary top-k: global term frequencies and document
   * frequencies, ranked by total count — the vocabulary-building /
   * corpus-statistics pass of a data build.
   *
   * Scale: explode → one partial-agged exchange on term; the global top-k
   * goes through `orderBy.limit` which Spark executes as TakeOrdered
   * (per-partition heaps + driver merge of k rows) — no global sort
   * materialization. The rank column is minted AFTER the limit, over k
   * rows. Deterministic: ties break on the term string.
   */
  def vocabTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 50): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val byTerm = terms.groupBy("term").agg(
      count(lit(1)).as("cnt"), count_distinct(col("doc_id")).as("df"))
    val w = Window.orderBy(col("cnt").desc, col("term").asc)
    byTerm.orderBy(col("cnt").desc, col("term").asc).limit(k)
      .withColumn("rn", row_number().over(w))
  }

  /** Plain TF-IDF weights per (doc, term) — tf · ln(N/df), unranked; the
    * building block when the caller wants the full weighted matrix (e.g.
    * as sparse features) rather than top-k terms. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.agg(count_distinct(col("doc_id")).as("n_docs"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tf_idf_r", round(
        col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tf_idf_r"))
  }

  /**
   * All-pairs TF-IDF cosine similarity above `tau` — the classic APSS
   * operator (Bayardo et al. 2007's problem statement): every document
   * pair whose TF-IDF vectors' cosine reaches the threshold, via an
   * inverted index instead of the O(n²) scan. Complements the dedup
   * family's set-based measures ([[graft.operators.Dedup.jaccardPairs]]
   * sees token SETS, containment sees subset overlap) with the weighted
   * measure retrieval stacks use: rare shared terms count for more,
   * boilerplate counts for almost nothing.
   *
   * Shape at scale — the four dedup-then-expand disciplines (the r11
   * duplicate-amplification audit rule):
   *  - documents collapse to one representative per distinct sorted
   *    token list (128-bit fingerprint as the collapse key — see
   *    [[fp128]]) — identical texts share one vector, so the pair scan
   *    runs at distinct-vector level and a duplicate-heavy corpus
   *    cannot amplify Σ df²;
   *  - `df` is MEMBER-level (group-size-weighted), so idf — and the
   *    `maxDf` stop-term cap — bind exactly as they would uncollapsed;
   *  - candidate generation is EXACT prefix-filtered (Bayardo, Ma &
   *    Srikant, WWW 2007): features order by (df desc, term asc) —
   *    hottest first — and each vector's posting for feature i is
   *    INDEXED only once the running bound Σ_{j≤i} wn_j·maxw(term_j)
   *    reaches tau (maxw = the corpus-wide max normalized weight of the
   *    term). A pair whose min-rid side shares no INDEXED term with the
   *    other side's full vector has cosine provably below tau (its
   *    shared terms all sit in the min side's prefix, whose
   *    max-possible contribution against ANY unit vector is < tau), so
   *    joining indexed(a) ⋈ full(b) on the term, a.rid < b.rid, loses
   *    nothing — while the hot-term postings that dominate Σ df² are
   *    exactly the ones the prefix absorbs. Output is bit-identical to
   *    the unfiltered join (spec-pinned); the higher tau, the harder it
   *    prunes. `maxDf` remains available as the semantics-changing
   *    lower-bound cap on top;
   *  - each candidate's dot completes Bayardo-style: products over the
   *    min side's indexed terms come from the candidate join itself;
   *    products over its PREFIX terms join per candidate pair (never
   *    per term — the hot postings meet only qualified pairs); both
   *    pieces merge into one term-sorted fold, so the float value is
   *    bit-identical to the unfiltered join's;
   *  - surviving rep pairs expand to member pairs sized by true output;
   *    identical-text groups pair internally at their (capped) self-
   *    cosine — 1.0 uncapped.
   *
   * Exactness: every float reduction is an IN-ORDER fold over a
   * term-sorted list (norms: Σw², pair dots: Σ wa·wb — the
   * `list_reduce` discipline of the IVF-PQ det oracle), so the value is
   * bit-reproducible under any partitioning and the DuckDB twin replays
   * it exactly. The `maxDf` cap drops postings of terms seen in more
   * than `maxDf` member docs BEFORE the pair join but AFTER norms, so
   * capped cosine is a deterministic LOWER BOUND on true cosine (a pair
   * can only drop below tau, never rise) — both regimes exact-oracle.
   * Docs with a zero-norm vector (every term corpus-universal, or no
   * tokens) join no pairs. Output: (id_a, id_b, cos_r), id_a < id_b.
   *
   * Lever policy (measured, r13): the prefix filter engages only on
   * UNCAPPED runs. When `maxDf` binds, the cap has already dropped the
   * hot postings the prefix would absorb, and stacking the filter's
   * machinery on top was pure overhead at every scale measured (2.4× at
   * the 50k-doc gate regime). The two levers address the same postings
   * — the cap by changing semantics (deterministic lower bound), the
   * prefix exactly — so a deployment picks ONE: exact results → uncapped
   * (prefix prunes), bounded cost on a dense-vocabulary corpus → capped.
   */
  def cosinePairs(docs: DataFrame, idCol: String, textCol: String,
                  tau: Double, maxDf: Long = 0L): DataFrame =
    cosinePairsImpl(docs, idCol, textCol, tau, maxDf,
      prefixFilter = maxDf == 0L)

  /** 128-bit collapse fingerprint of a sorted token list: xxhash64 over
    * the array, and over the array with a salt element prepended — two
    * independently-seeded views, one struct key. 128 bits, not 64
    * (ADVICE r12): a collapse collision silently merges two unrelated
    * documents into one "identical-text" group; at 64 bits the birthday
    * bound (~n²/2⁶⁵) turns material at billions of distinct docs, at 128
    * it never does. The salt, not a reversal (ADVICE r13): the reversed
    * array EQUALS the sorted array for palindromic token lists
    * (single-token and all-identical-token docs), collapsing that
    * subclass back to 64 effective bits, and the two hashes were never
    * independent in general. The second field is named `h2s` so a store
    * persisted under the old derivation fails loudly instead of silently
    * mis-joining ([[cosineStoreDelta]]'s schema check). The array itself
    * stays out of the key so the collapse exchange carries it once. */
  private def fp128(tk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    struct(xxhash64(sort_array(tk)).as("h1"),
      xxhash64(lit(1L), sort_array(tk)).as("h2s"))

  /** [[cosinePairs]] with the prefix filter switchable — `false` keeps
    * the full postings⋈postings candidate join. Output is identical by
    * the Bayardo guarantee (spec-pinned equality); only the candidate
    * volume differs. Exposed for the equality spec and for A/B soaks. */
  private[graft] def cosinePairsImpl(docs: DataFrame, idCol: String,
                                     textCol: String, tau: Double,
                                     maxDf: Long,
                                     prefixFilter: Boolean): DataFrame = {
    require(tau > 0.0, "cosinePairs tau must be positive")
    // fp materialized as a COLUMN, not an inline partition expression:
    // the rid and grp windows would otherwise each mint their own _w0
    // projection of it and the planner re-exchanges between them — a
    // full second corpus shuffle (found re-deriving the r13 plan pin).
    val members = docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .withColumn("fp", fp128(col("tk")))
    val w = Window.partitionBy(col("fp"))
    val withRep = members
      .withColumn("rid", min(col("id")).over(w))
      .withColumn("grp", count(lit(1)).over(w))
    val reps = withRep.filter(col("id") === col("rid"))
      .select(col("rid"), col("tk"), col("grp"))
    val nDocs = members.agg(count(lit(1)).as("n_docs"))
    val tf = reps.select(col("rid"), col("grp"), explode(col("tk")).as("term"))
      .groupBy(col("rid"), col("grp"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(sum(col("grp")).as("df"))
    val weighted = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .select(col("rid"), col("grp"), col("term"), col("df"),
        (col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("wt"))
    val norms = l2Norms(weighted, "rid")
    // wn = 0 postings (corpus-universal terms, idf exactly 0) are EXACT
    // dead weight: their pair products are +0.0, a float no-op in the
    // fold (acc + 0.0 ≡ acc on a non-negative accumulator, and the
    // oracle's fold of the same zeros agrees bit-for-bit), and a pair
    // sharing ONLY zero-weight terms scores 0.0 < tau. Dropping them
    // removes the df = n boilerplate block — n² join rows of zeros —
    // from both candidate forms.
    val posts0 = weighted.join(norms, "rid")
      .select(col("rid"), col("grp"), col("term"), col("df"),
        (col("wt") / col("nrm")).as("wn"))
      .filter(col("wn") > 0.0)
    val posts =
      if (maxDf > 0L) posts0.filter(col("df") <= maxDf) else posts0
    // Prefix filter (exact): split each vector's kept postings, ordered
    // (df desc, term asc), at the point where the running prefix bound
    // reaches tau. The bound on the UNINDEXED PREFIX's max-possible dot
    // against ANY unit vector is the MIN of two valid bounds:
    //  - Σ wn·maxw(term) over the prefix (Bayardo et al., WWW 2007 —
    //    maxw = corpus-wide max normalized weight of the term), and
    //  - ‖prefix‖₂ = sqrt(Σ wn²) (Cauchy–Schwarz against a unit vector —
    //    the L2 prefix bound of Anastasiu & Karypis' L2AP, SIGMOD 2014).
    // The L2 bound is the load-bearing one on real corpora: under idf
    // weighting the hot terms carry little ENERGY, so a tau² energy
    // budget absorbs nearly all of them regardless of how one
    // pathological short document inflates a hot term's maxw (measured
    // here: the maxw bound alone left 91% of postings indexed and the
    // candidate set at all-pairs). A qualifying pair MUST share an
    // INDEXED term of its min-rid side, so the candidate join runs
    // indexed(a) ⋈ full(b) — the hot-term postings that dominate Σ df²
    // are exactly the ones the prefix absorbs. Margin 1e-6 = 5e-7 for
    // the 6-dp rounding of the emitted cosine (round(x,6) ≥ tau is
    // possible from x ≥ tau−5e-7) plus slack for float accumulation in
    // the bounds themselves (relative error ~2⁻⁵³ per op — orders of
    // magnitude inside the margin).
    val bounded =
      if (prefixFilter) {
        val maxw = posts.groupBy(col("term")).agg(max(col("wn")).as("mw"))
        val bw = Window.partitionBy(col("rid"))
          .orderBy(col("df").desc, col("term").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        posts.join(maxw, "term")
          .withColumn("_bnd", least(
            sum(col("wn") * col("mw")).over(bw),
            sqrt(sum(col("wn") * col("wn")).over(bw))))
          .select(col("rid"), col("term"), col("wn"), col("_bnd"))
      } else posts.select(col("rid"), col("term"), col("wn"),
        lit(Double.MaxValue).as("_bnd"))
    val thr = lit(tau - 1e-6)
    val idxA = bounded.filter(col("_bnd") >= thr)
      .select(col("rid"), col("term"), col("wn"))
    val bSide = posts.select(col("rid"), col("term"), col("wn"))
    // Score in two disjoint pieces, merged into ONE term-sorted fold so
    // the float value is bit-identical to the unfiltered join's (and to
    // the oracle's list_reduce): s1 = products over a's INDEXED shared
    // terms (the candidate-generating join), s2 = the Bayardo score
    // completion — products over a's PREFIX terms, joined per CANDIDATE
    // PAIR (never per term), so the prefix's hot postings meet only the
    // pairs that already qualified. The two sides partition a's posting
    // rows, so no product appears twice. Cost is self-balancing: low tau
    // ⇒ prefix small (s1 ≈ the unfiltered join, s2 negligible); high
    // tau ⇒ candidates few (s1 tiny, s2 ∝ candidates × prefix length).
    val s1 = idxA.alias("a")
      .join(bSide.alias("b"),
        col("a.term") === col("b.term") && col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("ra"), col("b.rid").as("rb"),
        col("a.term").as("term"), (col("a.wn") * col("b.wn")).as("p"))
    val products = if (!prefixFilter) s1 else {
      val prefA = bounded.filter(col("_bnd") < thr)
      val cand = s1.select(col("ra"), col("rb")).distinct()
      val s2 = cand
        .join(prefA.select(col("rid").as("ra"), col("term"),
          col("wn").as("wa")), "ra")
        .join(bSide.select(col("rid").as("rb"), col("term"),
          col("wn").as("wb")), Seq("rb", "term"))
        .select(col("ra"), col("rb"), col("term"),
          (col("wa") * col("wb")).as("p"))
      s1.unionByName(s2)
    }
    val pairCos = products
      .groupBy(col("ra"), col("rb"))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("term"), col("p")))),
        lit(0.0), (acc, x) => acc + x.getField("p")), 6).as("cos_r"))
      .filter(col("cos_r") >= tau)
    val mem = withRep.select(col("id"), col("rid"))
    val cross = pairCos
      .join(mem.as("ma"), col("ma.rid") === col("ra"))
      .join(mem.as("mb"), col("mb.rid") === col("rb"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("cos_r"))
    // identical-text groups: capped self-cosine over KEPT postings
    val intra = posts.filter(col("grp") >= 2L)
      .groupBy(col("rid"))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("term"), col("wn")))),
        lit(0.0), (acc, x) => acc + x.getField("wn") * x.getField("wn")),
        6).as("cos_r"))
      .filter(col("cos_r") >= tau)
      .withColumnRenamed("rid", "irid")
    val intraPairs = intra
      .join(mem.as("ma"), col("ma.rid") === col("irid"))
      .join(mem.as("mb"), col("mb.rid") === col("irid"))
      .filter(col("ma.id") < col("mb.id"))
      .select(col("ma.id").as("id_a"), col("mb.id").as("id_b"), col("cos_r"))
    cross.unionByName(intraPairs)
  }

  /**
   * Frozen-idf postings store for [[cosinePairsIncremental]] — the APSS
   * member of the ingest-screen family ([[graft.operators.Dedup
   * .minhashStore]] / `simhashStore` / the assigned semantic corpus):
   * one keeper per distinct token list (min id, the fingerprint
   * collapse), each keeper's TF-IDF-normalized postings under the
   * BUILD-TIME model. The idf model — member-count `n0` and
   * member-level `df` — is FROZEN into the rows (the
   * [[graft.operators.Similarity.encodePqIndex]] frozen-quantizer
   * contract): screens stay O(ingest), never re-weigh the corpus, and
   * drift accumulates until a rebuild, exactly like a production
   * retrieval index's idf snapshot. Schema: (id, fp, term, df, wn, n0,
   * bnd) with fp the 128-bit [[fp128]] struct (h1, h2s) and `bnd` the
   * PERSISTED prefix bound (r14): the keeper's running L2 norm over its
   * postings in (df desc, term asc) order, inclusive — ‖prefix through
   * this row‖₂, the Anastasiu & Karypis (SIGMOD 2014) L2 bound, which
   * is valid against ANY unit counterpart (Cauchy–Schwarz), so it holds
   * for incoming vectors the build never saw — unlike the Bayardo maxw
   * bound, whose per-term maxima only cover build-time vectors (and
   * which the r13 batch measurements showed carries no extra pruning
   * anyway). [[cosinePairsIncremental]] splits the store at screen time
   * with whatever tau the caller passes — the bound is tau-independent,
   * so ONE persisted column serves every threshold. Stores persisted
   * before r13 carried a 64-bit long fp, r13 stores an unsalted (h1,
   * h2) fp and no `bnd`; all must be rebuilt (the delta and
   * prefix-screen paths refuse them loudly). Persist as parquet and
   * screen every ingest against it.
   */
  def cosineStore(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val members = docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .withColumn("fp", fp128(col("tk")))
    val w = Window.partitionBy(col("fp"))
    val withRep = members
      .withColumn("rid", min(col("id")).over(w))
      .withColumn("grp", count(lit(1)).over(w))
    val reps = withRep.filter(col("id") === col("rid"))
      .select(col("rid"), col("fp"), col("tk"), col("grp"))
    val nDocs = members.agg(count(lit(1)).as("n0"))
    val tf = reps.select(col("rid"), col("fp"), col("grp"),
        explode(col("tk")).as("term"))
      .groupBy(col("rid"), col("fp"), col("grp"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(sum(col("grp")).as("df"))
    val weighted = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .select(col("rid"), col("fp"), col("term"), col("df"), col("n0"),
        (col("tf").cast("double")
          * log(col("n0").cast("double") / col("df").cast("double")))
          .as("wt"))
    storePostings(weighted)
  }

  /** (ia, ib, term, p = wn·wn) of joined `a`/`b` (id, term, wn) postings. */
  private def termProduct: Seq[Column] = Seq(col("a.id").as("ia"),
    col("b.id").as("ib"), col("a.term").as("term"),
    (col("a.wn") * col("b.wn")).as("p"))

  /** Store rows (normalized `wn`, prefix bound) of weighted postings. */
  private def storePostings(weighted: DataFrame): DataFrame =
    withPrefixBound(weighted.join(l2Norms(weighted, "rid"), "rid")
      .select(col("rid").as("id"), col("fp"), col("term"), col("df"),
        (col("wt") / col("nrm")).as("wn"), col("n0")))

  /** Per-`key` L2 norm `nrm` of (term, wt) postings, zero norms dropped;
    * an in-term-order fold, bit-reproducible under any partitioning. */
  private def l2Norms(weighted: DataFrame, key: String): DataFrame =
    weighted.groupBy(col(key))
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("wt")))),
        lit(0.0),
        (acc, x) => acc + x.getField("wt") * x.getField("wt")).as("n2"))
      .filter(col("n2") > 0.0)
      .select(col(key), sqrt(col("n2")).as("nrm"))

  /** Append the persisted per-posting prefix bound `bnd` — the running
    * inclusive L2 norm in (df desc, term asc) order. Per-vector and
    * model-frozen, so appended keepers compute theirs independently of
    * the standing store. One window over the already-materialized id
    * column (no inline partition expression — the fifth scale-bug
    * class); the exchange it costs is the store BUILD's, paid once, so
    * every later screen can skip the hot postings. */
  private def withPrefixBound(posts: DataFrame): DataFrame = {
    val bw = Window.partitionBy(col("id"))
      .orderBy(col("df").desc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    posts.withColumn("bnd", sqrt(sum(col("wn") * col("wn")).over(bw)))
  }

  /**
   * Store maintenance for [[cosineStore]]: encode an ingest batch's
   * NOVEL contents (fingerprint not already in the store, one keeper
   * per new distinct token list) under the store's FROZEN model and
   * append them, so the next ingest screens against them — the
   * [[graft.operators.Dedup.minhashStoreAppend]] contract with the
   * [[graft.operators.Similarity.appendToPqIndex]] frozen-model
   * weighting: build-time `n0`/`df` stay authoritative (appended rows
   * echo them; terms unseen at build ride at df = 1, matching what
   * [[cosinePairsIncremental]] assumes when scoring against them).
   * Model drift accumulates across appends — gate rebuilds with
   * [[cosineStoreUnseenFrac]].
   */
  def cosineStoreAppend(store: DataFrame, incoming: DataFrame,
                        idCol: String, textCol: String): DataFrame =
    store.unionByName(cosineStoreDelta(store, incoming, idCol, textCol))

  /** The NEW keeper rows [[cosineStoreAppend]] would add — exposed
    * separately so an incremental persistence layer (the streaming
    * ingest's VersionedTable upsert) can write just the delta instead of
    * rewriting the whole store. `cosineStoreAppend(s, i) ≡
    * s.unionByName(cosineStoreDelta(s, i))` by construction. */
  def cosineStoreDelta(store: DataFrame, incoming: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    // Fingerprint-derivation migration gate: the novelty anti-join below
    // compares persisted fps with freshly computed ones, so a store
    // written under an older fp128 derivation (pre-r13 64-bit long, r13
    // unsalted (h1, h2)) would silently classify EVERYTHING as novel.
    // Refuse loudly instead (the bm25 legacy-stats precedent).
    val fpFields = store.schema("fp").dataType match {
      case st: org.apache.spark.sql.types.StructType => st.fieldNames.toSeq
      case _ => Nil
    }
    require(fpFields == Seq("h1", "h2s"),
      s"store fp schema $fpFields predates the r14 salted fp128 " +
        "derivation — rebuild the store once with cosineStore")
    val n0row = store.agg(max(col("n0")).as("n0"))
    val dfDict = store.groupBy(col("term")).agg(max(col("df")).as("df0"))
    val members = incoming.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .withColumn("fp", fp128(col("tk")))
    val novel = members
      .join(store.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("tk"))).as("ks"))
      .select(col("ks.id").as("rid"), col("fp"), col("ks.tk").as("tk"))
    val tf = novel.select(col("rid"), col("fp"), explode(col("tk")).as("term"))
      .groupBy(col("rid"), col("fp"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val weighted = tf.join(dfDict, Seq("term"), "left")
      .crossJoin(broadcast(n0row))
      .select(col("rid"), col("fp"), col("term"),
        coalesce(col("df0"), lit(1L)).as("df"), col("n0"),
        (col("tf").cast("double")
          * log(col("n0").cast("double")
            / coalesce(col("df0"), lit(1L)).cast("double"))).as("wt"))
    storePostings(weighted)
  }

  /**
   * Frozen-model drift signal for [[cosineStore]]: the fraction of the
   * increment's token OCCURRENCES whose term the store has never seen —
   * the idf snapshot is blind to exactly those terms (they ride at
   * df = 1 regardless of how common they have become). One
   * ingest-bounded aggregate; the two counters are the only
   * driver-side values (the [[graft.operators.Similarity
   * .pqResidualStats]] discipline). Rebuild the store when this
   * exceeds the deployment's tolerance (the PqDrift trigger pattern).
   */
  def cosineStoreUnseenFrac(store: DataFrame, incoming: DataFrame,
                            idCol: String, textCol: String): Double = {
    val dict = store.select(col("term")).distinct()
    val toks = incoming.select(
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val row = toks.join(dict.withColumn("_seen", lit(1)), Seq("term"), "left")
      .agg(count(lit(1)).as("total"),
        coalesce(sum(when(col("_seen").isNull, 1L).otherwise(0L)), lit(0L))
          .as("unseen"))
      .head()
    val total = row.getLong(0)
    if (total == 0L) 0.0 else row.getLong(1).toDouble / total.toDouble
  }

  /**
   * Incremental APSS screen: every ≥ `tau` cosine pair touching the
   * ingest batch — incoming × store keepers AND incoming × incoming —
   * under the store's FROZEN idf model (terms unseen at build score as
   * df = 1, maximally informative: they sharpen the incoming doc's norm
   * and can only match other incoming docs, since no store posting
   * carries them). O(ingest-postings × matched store postings), the
   * corpus is never re-signed or re-weighed; `maxDf` drops postings of
   * build-time-hot terms on BOTH sides (the [[cosinePairs]] lower-bound
   * contract). Corpus duplicates are represented by their keeper id —
   * the screen answers "does this incoming doc have a near-dup in the
   * corpus", the keeper names it. Same in-order-fold exactness as the
   * batch form. Output: (id_a, id_b, cos_r), id_a < id_b.
   */
  def cosinePairsIncremental(incoming: DataFrame, store: DataFrame,
                             idCol: String, textCol: String,
                             tau: Double, maxDf: Long = 0L): DataFrame =
    cosinePairsIncrementalImpl(incoming, store, idCol, textCol, tau, maxDf,
      prefixFilter = maxDf == 0L)

  /** [[cosinePairsIncremental]] with the prefix filter switchable —
    * `false` keeps the full postings⋈postings joins. Output is identical
    * by the one-sided Bayardo guarantee (spec-pinned equality); only the
    * candidate volume differs. Exposed for the equality spec and A/B
    * soaks, mirroring [[cosinePairsImpl]]. The default policy is the
    * batch lever rule (prefix iff uncapped): when `maxDf` binds it has
    * already dropped the hot postings the prefix would absorb, and
    * stacking measured as pure overhead (r13).
    *
    * Prefix mechanics (r14, closing the r13 gap this operator's own
    * IngestBench row measured at 202 s/batch): the Bayardo argument is
    * ONE-SIDED — a qualifying pair must share a term INDEXED by its
    * designated side, so only one side of each join needs the split.
    *  - cross (incoming × store): the STORE side is designated; its
    *    split is read off the PERSISTED `bnd` column ([[cosineStore]]),
    *    so the standing corpus's hot postings are pruned without
    *    re-weighing anything — candidates = store-indexed ⋈
    *    incoming-full, then the Bayardo completion join adds the
    *    store-prefix products per CANDIDATE pair.
    *  - intra (incoming × incoming): the min-id side is designated; its
    *    bound is computed on the fly over the batch's own postings
    *    (ingest-bounded, the same window the store build pays once).
    * Both use the L2 ‖prefix‖₂ bound alone — valid against ANY unit
    * vector (the store never saw the incoming docs, so per-term maxw
    * bounds don't transfer), and the r13 measurements showed maxw adds
    * nothing on top of L2 anyway. Products still merge into ONE
    * term-sorted fold per pair (indexed piece ∪ completion piece
    * partition the designated side's postings), so the emitted cosine is
    * BIT-IDENTICAL to the unfiltered join's and the exact oracle is
    * unchanged. wn = 0 postings are dropped on both sides at SCREEN time
    * (the r13 dead-weight rule: zero products are float no-ops and a
    * zero-only pair scores 0 < tau); the PERSISTED store keeps them so
    * [[cosineStoreUnseenFrac]]'s term dictionary stays complete. */
  private[graft] def cosinePairsIncrementalImpl(
      incoming: DataFrame, store: DataFrame, idCol: String, textCol: String,
      tau: Double, maxDf: Long, prefixFilter: Boolean): DataFrame = {
    require(tau > 0.0, "cosinePairsIncremental tau must be positive")
    if (prefixFilter) require(store.columns.contains("bnd"),
      "store lacks the persisted prefix bound `bnd` — it predates the " +
        "r14 prefix-filtered incremental screen; rebuild it once with " +
        "cosineStore (the capped path, maxDf > 0, does not need it)")
    val n0row = store.agg(max(col("n0")).as("n0"))
    val dfDict = store.groupBy(col("term")).agg(max(col("df")).as("df0"))
    val inTf = incoming.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val inW = inTf.join(dfDict, Seq("term"), "left")
      .crossJoin(broadcast(n0row))
      .select(col("id"), col("term"),
        coalesce(col("df0"), lit(1L)).as("df0"),
        (col("tf").cast("double")
          * log(col("n0").cast("double")
            / coalesce(col("df0"), lit(1L)).cast("double"))).as("wt"))
    val inNorms = l2Norms(inW, "id")
    val inPosts0 = inW.join(inNorms, "id")
      .select(col("id"), col("term"), col("df0"),
        (col("wt") / col("nrm")).as("wn"))
      .filter(col("wn") > 0.0)
    val inPosts =
      if (maxDf > 0L) inPosts0.filter(col("df0") <= maxDf) else inPosts0
    val stPosts0 = store.filter(col("wn") > 0.0)
    val stPosts =
      if (maxDf > 0L) stPosts0.filter(col("df") <= maxDf) else stPosts0
    def foldPairs(pairs: DataFrame): DataFrame = pairs
      .groupBy(col("ia"), col("ib"))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("term"), col("p")))),
        lit(0.0), (acc, x) => acc + x.getField("p")), 6).as("cos_r"))
      .filter(col("cos_r") >= tau)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cos_r"))
    // same margin as the batch form: 5e-7 for the 6-dp rounding of the
    // emitted cosine plus float-accumulation slack in the bound itself
    val thr = lit(tau - 1e-6)
    val crossProducts =
      if (!prefixFilter)
        inPosts.alias("a")
          .join(stPosts.alias("b"), col("a.term") === col("b.term"))
          .select(termProduct: _*)
      else {
        val stIdx = stPosts.filter(col("bnd") >= thr)
          .select(col("id"), col("term"), col("wn"))
        val stPref = stPosts.filter(col("bnd") < thr)
          .select(col("id").as("ib"), col("term"), col("wn").as("wb"))
        val s1 = inPosts.alias("a")
          .join(stIdx.alias("b"), col("a.term") === col("b.term"))
          .select(termProduct: _*)
        val cand = s1.select(col("ia"), col("ib")).distinct()
        val s2 = cand
          .join(stPref, "ib")
          .join(inPosts.select(col("id").as("ia"), col("term"),
            col("wn").as("wa")), Seq("ia", "term"))
          .select(col("ia"), col("ib"), col("term"),
            (col("wa") * col("wb")).as("p"))
        s1.unionByName(s2)
      }
    val intraProducts =
      if (!prefixFilter)
        inPosts.alias("a")
          .join(inPosts.alias("b"),
            col("a.term") === col("b.term") && col("a.id") < col("b.id"))
          .select(termProduct: _*)
      else {
        val bw = Window.partitionBy(col("id"))
          .orderBy(col("df0").desc, col("term").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bounded = inPosts.withColumn("_bnd",
          sqrt(sum(col("wn") * col("wn")).over(bw)))
        val inIdx = bounded.filter(col("_bnd") >= thr)
          .select(col("id"), col("term"), col("wn"))
        val inPref = bounded.filter(col("_bnd") < thr)
          .select(col("id").as("ia"), col("term"), col("wn").as("wa"))
        val i1 = inIdx.alias("a")
          .join(inPosts.alias("b"),
            col("a.term") === col("b.term") && col("a.id") < col("b.id"))
          .select(termProduct: _*)
        val icand = i1.select(col("ia"), col("ib")).distinct()
        val i2 = icand
          .join(inPref, "ia")
          .join(inPosts.select(col("id").as("ib"), col("term"),
            col("wn").as("wb")), Seq("ib", "term"))
          .select(col("ia"), col("ib"), col("term"),
            (col("wa") * col("wb")).as("p"))
        i1.unionByName(i2)
      }
    foldPairs(crossProducts).unionByName(foldPairs(intraProducts))
  }

  /**
   * Corpus-trained bigram-LM perplexity per document — the CCNet-style
   * quality signal (Wenzek et al. 2020 rank documents by LM perplexity;
   * here the model is the corpus's own bigram statistics instead of an
   * external KenLM binary, keeping the operator self-contained, exact,
   * and engine-reproducible).
   *
   * Model: add-α smoothing, `P(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V)`
   * with `V = |unigram vocabulary|`. Bigrams with corpus count below
   * `minCount` are PRUNED from the model and score as unseen (c = 0) —
   * the standard KenLM-style cap that keeps the model vocabulary-bounded
   * on a large corpus. Per document: `avg_nll` = −mean ln P over its
   * bigrams (6 dp), `ppl = exp(avg_nll)` (6 dp); documents with < 2
   * tokens emit `n_bigrams = 0` and null scores.
   *
   * Scale shape: the bigram pair list is built map-side (`zip_with` over
   * the shifted token slices — no self-join, no extra exchange); the
   * model is two partial-agged count exchanges whose output is
   * vocabulary-bounded (not corpus-bounded) after pruning; scoring joins
   * doc bigrams to the model on (w1, w2) / w1 — broadcast when the
   * pruned model fits, hash-partitioned otherwise (left to the planner's
   * stats); the per-doc mean is one more partial-agged exchange on
   * doc_id. No full document ever sits in executor memory.
   */
  def bigramLmPerplexity(docs: DataFrame, idCol: String, textCol: String,
                         alpha: Double = 0.5, minCount: Int = 1): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("t"))
    val bigrams = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val uni = toks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val scored = bigrams
      .join(bc, Seq("w1", "w2"), "left")
      .join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("lnp", log(
        (coalesce(col("c2"), lit(0L)).cast("double") + lit(alpha))
          / (col("c1").cast("double") + lit(alpha) * col("v").cast("double"))))
    val agg = scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"),
      round(-avg(col("lnp")), 6).as("avg_nll"),
      round(exp(-avg(col("lnp"))), 6).as("ppl"))
    toks.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll"), col("ppl"))
  }
}
