package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import scala.collection.mutable

/**
 * Byte-pair-encoding (BPE) subword tokenization — vocabulary learning
 * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
 * Subword Units") and corpus segmentation. This closes the tokenizer
 * loop for a training-data build: the engine already counts tokens and
 * packs sequences; this operator LEARNS the subword vocabulary those
 * counts assume, from the corpus itself, and segments the corpus with it.
 *
 * Scale design (100 TB lens):
 *  - Learning never touches the corpus. Its state is the word-frequency
 *    table (vocabulary-bounded — Heaps' law puts |vocab| orders of
 *    magnitude below corpus size), built with ONE corpus-sized exchange
 *    that partial-aggregates map-side. Each merge round is then one
 *    partial+final aggregation over the vocab table plus a ONE-ROW
 *    TakeOrdered collect (the argmax pair). The collected model is k
 *    rows — bounded driver state, same contract as the IVF centroid and
 *    DSIR weight-table collects.
 *  - The vocab table is `localCheckpoint`ed every round so round i+1
 *    re-reads materialized partitions instead of replaying i nested
 *    fold expressions (the plan-growth lesson from the cluster-resolution
 *    soak, PLANS.md round 6).
 *  - Segmentation amortizes the k merge folds over DISTINCT WORDS, not
 *    corpus tokens: the learner's final vocab already carries each
 *    word's segmentation, so `applyBpe` is posexplode → equi-join on the
 *    (small) segmented vocab → one per-doc reassembly aggregation. The
 *    only corpus-sized exchange carries (doc_id, pos, subwords) — the
 *    planner broadcasts the vocab side when it fits (it does by
 *    construction). Out-of-vocabulary words fall back to the literal
 *    k-fold merge chain, map-only.
 *
 * Merge application is the standard greedy leftmost-non-overlapping
 * pass, expressed as a single `aggregate` fold per rule: push each
 * token; when the accumulator's last element equals the rule's left
 * side and the incoming token its right side, replace the last element
 * with the concatenation. One pass per rule, rules in rank order —
 * byte-identical to the reference algorithm's per-rule scan and exactly
 * reproducible in any engine with list folds (the oracle replays it in
 * DuckDB via `list_reduce`).
 *
 * Determinism: the argmax pair tie-breaks on (count desc, left asc,
 * right asc) over binary string order; the testdata corpus is pure
 * ASCII, so Spark UTF8_BINARY and DuckDB binary collation agree.
 *
 * Reference scope: the reference's apps stop at whitespace token
 * counting (e.g. `WordCount.java`); subword vocabulary learning is part
 * of the beyond-reference training-data surface alongside dedup / DSIR /
 * packing.
 */
object Tokenize {

  /** One merge rule (rank-ordered). `merged = left + right`. */
  final case class Merge(rank: Int, left: String, right: String,
                         merged: String, pairCnt: Long)

  /** Learned model: the ranked merge table plus the segmented training
    * vocabulary (word → subword list) that `applyBpe` joins against. */
  final case class BpeModel(merges: Seq[Merge], vocab: DataFrame)

  /** Word-frequency table over a corpus: (word, cnt), whitespace
    * tokenization matching `TextAnalysis.tokens` (and the DuckDB oracle's
    * `string_split(text, ' ')`). Empty words are dropped — a word must
    * have at least one character to segment. */
  def wordCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Greedy leftmost-non-overlapping application of ONE merge rule to a
    * token list: fold that pushes each token and collapses [.., l] + r
    * into [.., l+r]. After a collapse the merged token becomes the new
    * tail, so overlapping occurrences (e.g. rule (a,a) on [a,a,a]) merge
    * left-to-right without re-merging — the textbook BPE scan. */
  def mergeOne(toks: Column, l: Column, r: Column): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, t) => when(size(acc) > 0 && element_at(acc, -1) === l && t === r,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
        .otherwise(concat(acc, array(t))))

  /** Character-level seed segmentation of a word (no end-of-word marker;
    * merges are word-internal, the whitespace tokenization already marks
    * boundaries). */
  def chars(word: Column): Column =
    filter(split(word, ""), c => c =!= "")

  /** Spark's string ordering is UTF8 binary (unsigned byte order of the
    * UTF-8 encoding); the driver-local learner must tie-break merges the
    * same way or the two paths diverge on non-ASCII vocabularies. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Argmax order over (l, r, cnt) candidates: count desc, then left asc,
    * then right asc in UTF-8 binary order — the ONE tie-break both the
    * distributed and the driver-local learner use. Returns true when `a`
    * outranks `b`. */
  private def pairOutranks(a: (String, String, Long),
                           b: (String, String, Long)): Boolean = {
    if (a._3 != b._3) return a._3 > b._3
    val cl = utf8Compare(a._1, b._1)
    if (cl != 0) return cl < 0
    utf8Compare(a._2, b._2) < 0
  }

  /**
   * Learn `k` BPE merges over a (word, cnt) table. Merge semantics are
   * the textbook sequential algorithm: each round the single argmax
   * adjacent pair (weighted by word count, tie-break count desc / left
   * asc / right asc) becomes the next rule and rewrites every
   * segmentation. Stops early when no pair remains (fully merged vocab).
   *
   * Two execution paths, both producing the IDENTICAL merge sequence
   * (pinned by `TokenizeSpec`/`TokenizeScaleSpec`):
   *
   *  - **Driver-local** (the default regime — taken whenever the vocab's
   *    estimated heap footprint fits a quarter of driver memory; an
   *    explicit `localVocabThreshold` adds a row cap, 0 forcing the
   *    distributed path): the (word, cnt) table is vocabulary-bounded — Heaps' law
   *    puts it orders of magnitude below corpus size — so it collects
   *    like any other bounded model parameter (IVF centroids, DSIR
   *    histograms). Learning then runs in-process with an inverted
   *    pair→words index, touching only the words that contain each
   *    merged pair: a production 32k-merge vocabulary learns in seconds
   *    instead of 32k sequential Spark jobs. The corpus itself is never
   *    collected — only its word histogram.
   *  - **Distributed batched** (giant vocabs): per corpus-table pass,
   *    collect the top-`batchLimit` ranked pairs and apply the longest
   *    provably-safe prefix in ONE rewrite — mutually symbol-disjoint,
   *    self-pairs close their batch, members above the first excluded
   *    pair's count always safe, members TIED at it admitted under an
   *    exact created-pair tie-break check (see [[safeBatch]] for the
   *    full argument). Under Zipfian pair counts the head of the
   *    ranking is symbol-diverse and the tie check keeps equal-count
   *    tail runs batchable, so each pass lands tens of merges for one
   *    job's round-trip latency.
   *
   * Returns the merge table and the final segmented vocab
   * (word, cnt, toks) — the reusable tokenizer model.
   */
  def learnBpe(words: DataFrame, k: Int,
               localVocabThreshold: Long = -1L,
               batchLimit: Int = 64): BpeModel = {
    val seeded = words.select(col("word"), col("cnt"),
      chars(col("word")).as("toks"))
    // Local-path gate. The authoritative check is ESTIMATED BYTES (each
    // seed char becomes a String token plus pair-count/index entries,
    // ~150 B/char) against a quarter of the driver heap — row count alone
    // under-estimates footprint, and a fixed row cap under-USES a big
    // driver (the distributed tier's ~1-5 merges/pass is strictly worse
    // whenever the vocab fits: a 128 GiB driver holds ~28M words of 8
    // chars, 7× the old 4M-row cap). localVocabThreshold = -1 (default)
    // means "byte gate decides"; an explicit value adds a row cap on top
    // (0 forces the distributed path — the equivalence specs use it).
    // Either gate failing falls back to the distributed learner, which
    // never collects the vocab.
    val underRowGate = localVocabThreshold < 0L ||
      words.limit(math.min(localVocabThreshold, Int.MaxValue - 1L).toInt + 1)
        .count() <= localVocabThreshold
    val fitsDriver = underRowGate && {
      // Per-char AND per-word terms: chars dominate for long words, but
      // each ROW also pays a fixed overhead (Row, ArrayBuffer header,
      // boxed pairWords index entries) — a short-word-heavy vocabulary
      // can undershoot a chars-only estimate severalfold, so price rows
      // at ~400 B each alongside ~150 B/char.
      val sized = words.agg(
        coalesce(sum(length(col("word"))), lit(0L)),
        count(lit(1))).collect()(0)
      val (totalChars, numWords) = (sized.getLong(0), sized.getLong(1))
      totalChars * 150L + numWords * 400L <= Runtime.getRuntime.maxMemory() / 4
    }
    if (fitsDriver) learnBpeLocal(seeded, k)
    else learnBpeDistributed(seeded, k, batchLimit)
  }

  /** Driver-local exact learner over a collected, vocabulary-bounded
    * (word, cnt, toks) table. Maintains weighted adjacent-pair counts and
    * an inverted pair→word-indices index; each merge rescans only the
    * words that actually contain the argmax pair. */
  private def learnBpeLocal(seeded: DataFrame, k: Int): BpeModel = {
    val spark = seeded.sparkSession
    val collected = seeded.collect()
    val cnts = new Array[Long](collected.length)
    val toks = new Array[mutable.ArrayBuffer[String]](collected.length)
    var i = 0
    while (i < collected.length) {
      cnts(i) = collected(i).getLong(1)
      toks(i) = mutable.ArrayBuffer.from(collected(i).getSeq[String](2))
      i += 1
    }
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def indexWord(w: Int): Unit = {
      val t = toks(w)
      var j = 0
      while (j < t.length - 1) {
        val p = (t(j), t(j + 1))
        pairCnt.update(p, pairCnt.getOrElse(p, 0L) + cnts(w))
        pairWords.getOrElseUpdate(p, mutable.Set.empty) += w
        j += 1
      }
    }
    def unindexWord(w: Int): Unit = {
      val t = toks(w)
      var j = 0
      while (j < t.length - 1) {
        val p = (t(j), t(j + 1))
        pairCnt.get(p).foreach { old =>
          val c = old - cnts(w)
          if (c <= 0L) { pairCnt.remove(p); pairWords.remove(p) }
          // Surviving index entries may go stale for this word; merges
          // re-check by actually applying the rule, so stale is safe.
          else pairCnt.update(p, c)
        }
        j += 1
      }
    }
    i = 0
    while (i < collected.length) { indexWord(i); i += 1 }

    /** Greedy leftmost-non-overlapping scan — the in-memory twin of
      * [[mergeOne]]. Returns null when the rule does not fire. */
    def applyMerge(t: mutable.ArrayBuffer[String], l: String, r: String,
                   merged: String): mutable.ArrayBuffer[String] = {
      var fired = false
      val out = new mutable.ArrayBuffer[String](t.length)
      var j = 0
      while (j < t.length) {
        if (out.nonEmpty && out.last == l && t(j) == r) {
          out(out.length - 1) = merged
          fired = true
        } else out += t(j)
        j += 1
      }
      if (fired) out else null
    }

    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      var best: ((String, String), Long) = null
      for ((p, c) <- pairCnt)
        if (best == null || pairOutranks((p._1, p._2, c), (best._1._1, best._1._2, best._2)))
          best = (p, c)
      if (best == null) exhausted = true
      else {
        val ((l, r), c) = best
        val merged = l + r
        merges += Merge(rank, l, r, merged, c)
        for (w <- pairWords.getOrElse((l, r), mutable.Set.empty).toArray) {
          val rewritten = applyMerge(toks(w), l, r, merged)
          if (rewritten != null) {
            unindexWord(w)
            toks(w) = rewritten
            indexWord(w)
          }
        }
        pairCnt.remove((l, r))
        pairWords.remove((l, r))
        rank += 1
      }
    }

    val schema = StructType(Seq(
      StructField("word", StringType), StructField("cnt", LongType),
      StructField("toks", ArrayType(StringType))))
    val rows = new Array[Row](collected.length)
    i = 0
    while (i < collected.length) {
      rows(i) = Row(collected(i).getString(0), cnts(i), toks(i).toSeq)
      i += 1
    }
    val vocab = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq,
        math.max(1, math.min(32, rows.length / 8192 + 1))), schema)
    // RDD-backed frames carry no size statistics, so the planner would
    // default this side to SMJ — shuffling the CORPUS in applyBpe. The
    // local path just collected the vocab, so it is broadcast-bounded by
    // construction; pin the hint here.
    BpeModel(merges.result(), broadcast(vocab))
  }

  /** Distributed learner for vocabularies too large to collect: one pass
    * per BATCH of provably-independent merges (see [[learnBpe]]), each
    * pass = one pair-count aggregation + a `batchLimit`-row TakeOrdered
    * collect + one composed rewrite, `localCheckpoint`ed so the next
    * pass re-reads materialized partitions. */
  private def learnBpeDistributed(seeded: DataFrame, k: Int,
                                  batchLimit: Int): BpeModel = {
    var cur = seeded.localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val top = cur
        .filter(size(col("toks")) >= 2)
        .select(col("cnt"),
          explode(zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(batchLimit)
        .collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val batch = safeBatch(top, batchLimit, k - rank + 1)
        var folded = col("toks")
        for ((l, r, c) <- batch) {
          merges += Merge(rank, l, r, l + r, c)
          folded = mergeOne(folded, lit(l), lit(r))
          rank += 1
        }
        cur = cur.withColumn("toks", folded).localCheckpoint()
      }
    }
    BpeModel(merges.result(), cur)
  }

  /** Longest prefix of the ranked pair list that one rewrite pass can
    * apply while staying byte-identical to sequential merging. Three
    * rules compose (each pinned by a `TokenizeScaleSpec` fixture):
    *
    *  - **Symbol-disjoint prefix**: left/right/merged of one member is
    *    never a symbol of another — disjoint merges neither create nor
    *    destroy each other's occurrences, so every member's count is
    *    still exact at its sequential step.
    *  - **A SELF-pair (l == r) closes the batch.** Its merge spawns
    *    pairs over symbol runs — (M, l) on odd runs, (M, M) on runs ≥ 4
    *    — whose counts are bounded only by the self-pair's OWN count
    *    (their witness occurrences live inside the member itself), not
    *    by any excluded pair, so nothing ranked after it is provably
    *    safe in the same pass.
    *  - **Count-gap truncation** against the first excluded pair's
    *    count E: every pair a non-self batch merge can create has a
    *    WITNESS — a pre-merge pair sharing a batch symbol, hence
    *    conflict-excluded from the batch, hence count ≤ E — so members
    *    with count > E can never be overtaken. Members TIED at E (the
    *    Zipf-tail regime where a strict gap collapses batches to one
    *    merge per pass) are kept when every pair the kept merges could
    *    create at count E — enumerated exactly by crossing the visible
    *    witnesses at E with the kept merged symbols — loses the UTF-8
    *    tie-break to them; the tied member wins against every SURVIVING
    *    pair by list order, so only created pairs (absent from the
    *    pre-merge ranking) can out-sort it. Requires every E-count pair
    *    to be visible: if the list was cut exactly at E, unseen
    *    witnesses could exist and the tie is not checkable.
    *
    * `remaining` caps the batch at the merges still wanted. */
  private def safeBatch(top: Array[(String, String, Long)], batchLimit: Int,
                        remaining: Int): Seq[(String, String, Long)] = {
    val used = mutable.Set.empty[String]
    val scan = mutable.ArrayBuffer.empty[(String, String, Long)]
    var idx = 0
    var stop = false
    while (idx < top.length && !stop && scan.length < remaining) {
      val (l, r, _) = top(idx)
      val merged = l + r
      if (scan.nonEmpty &&
          (used(l) || used(r) || used(merged) ||
           scan.exists { case (bl, br, _) => bl == merged || br == merged }))
        stop = true
      else {
        scan += top(idx)
        used += l; used += r; used += merged
        idx += 1
        if (l == r) stop = true // self-pair: see scaladoc
      }
    }
    val excludedBound: Long =
      if (idx < top.length) top(idx)._3       // stopped on conflict/cap: next pair known
      else if (top.length == batchLimit) top.last._3 // list cut by limit: conservative
      else 0L                                 // complete pair list consumed
    // Unseen pairs tied at the bound can exist only when the list was cut
    // exactly there — then the witness set below would be incomplete.
    val boundVisible =
      !(top.length == batchLimit && top.last._3 == excludedBound)
    lazy val witnesses = top.filter(_._3 == excludedBound)
    val batch = mutable.ArrayBuffer.empty[(String, String, Long)]
    if (scan.nonEmpty) batch += scan(0)
    var i = 1
    var halted = false
    while (i < scan.length && !halted) {
      val cand = scan(i)
      val (candL, candR, c) = cand
      if (c > excludedBound) batch += cand
      else if (!boundVisible) halted = true
      else {
        // every pair a kept merge could create at count E: replace a
        // witness's left with a kept merged symbol ending in it, and/or
        // its right with one starting with it (both replaced covers the
        // merged-merged adjacency, whose witness is the (r_a, l_b) gap)
        val kept = batch.toSeq
        val safe = witnesses.forall { case (wl, wr, _) =>
          val lefts = wl +: kept.collect { case (a, b, _) if b == wl => a + b }
          val rights = wr +: kept.collect { case (a, b, _) if a == wr => a + b }
          lefts.forall { cl =>
            rights.forall { cr =>
              (cl == wl && cr == wr) ||
                !pairOutranks((cl, cr, c), (candL, candR, c))
            }
          }
        }
        if (safe) batch += cand else halted = true
      }
      i += 1
    }
    batch.toSeq
  }

  /** The learned merge table as a DataFrame — the gate/export surface of
    * the model (rank, left, right, merged, pair_cnt). */
  def mergesDf(model: BpeModel): DataFrame = {
    val s = model.vocab.sparkSession
    import s.implicits._
    model.merges.toDF("rank", "left", "right", "merged", "pair_cnt")
      .select(col("rank"), col("left"), col("right"), col("merged"),
        col("pair_cnt"))
  }

  /** Segment an arbitrary word column with the model's merge rules — the
    * out-of-vocabulary path: the k rules fold over the character seed in
    * rank order, map-only. */
  def segmentExpr(model: BpeModel, word: Column): Column =
    model.merges.foldLeft(chars(word)) { (toks, m) =>
      mergeOne(toks, lit(m.left), lit(m.right))
    }

  /**
   * Segment a corpus with a learned model. Emits
   * (doc_id, n_words, n_subwords, subword_text) where subword_text is
   * the space-joined subword sequence in document order.
   *
   * In-vocab words take the equi-join against the segmented vocab
   * (broadcast-sized by construction); unseen words fall back to the
   * literal merge chain. The per-doc reassembly sorts on word position
   * inside the aggregation, so the single corpus exchange is also the
   * only ordering step.
   */
  def applyBpe(docs: DataFrame, model: BpeModel,
               idCol: String, textCol: String): DataFrame = {
    // posexplode_outer keeps a (null, null) row for documents whose text
    // has no words, so they survive to the output as (0, 0, "") — the
    // same surface the streaming twin `bpeSegmentStream` emits (parity
    // pinned in StreamPipelineSpec) — without a doc-spine re-join: the
    // reassembly aggregation below stays the ONE corpus exchange.
    val words = docs.select(col(idCol).as("doc_id"),
        posexplode_outer(filter(TextAnalysis.tokens(col(textCol)),
          w => w =!= "")).as(Seq("pos", "word")))
    val seg = model.vocab.select(col("word"), col("toks"))
    words.join(seg, Seq("word"), "left")
      .withColumn("toks", when(col("word").isNotNull,
        coalesce(col("toks"), segmentExpr(model, col("word")))))
      .groupBy("doc_id")
      .agg(
        count(col("word")).as("n_words"),
        // Guard the null-word spine row explicitly: size(NULL) is NULL only
        // under ANSI mode (Spark 4 default) — a legacy session
        // (spark.sql.legacy.sizeOfNull) would contribute -1 per empty doc
        // and diverge from the DuckDB twin and bpeSegmentStream.
        coalesce(sum(when(col("word").isNotNull, size(col("toks")))),
          lit(0L)).as("n_subwords"),
        array_join(flatten(transform(
          array_sort(collect_list(when(col("word").isNotNull,
            struct(col("pos"), col("toks"))))),
          e => e.getField("toks"))), " ").as("subword_text"))
  }

  /** Driver/executor-side exact twin of [[segmentExpr]]: seed the word
    * into characters, then one greedy leftmost-non-overlapping pass per
    * merge rule in rank order. Used by the streaming segmenter's
    * broadcast fallback for vocabularies too large to inline as plan
    * literals; equivalence with the Catalyst fold is pinned in
    * `StreamPipelineSpec` (the OOV words exercise exactly this). */
  def segmentWordLocal(word: String, merges: Seq[Merge]): Seq[String] = {
    var t = mutable.ArrayBuffer.from(word.split("").filter(_.nonEmpty))
    for (m <- merges if t.length >= 2) {
      val out = new mutable.ArrayBuffer[String](t.length)
      var j = 0
      while (j < t.length) {
        if (out.nonEmpty && out.last == m.left && t(j) == m.right)
          out(out.length - 1) = m.merged
        else out += t(j)
        j += 1
      }
      t = out
    }
    t.toSeq
  }

  /** Persist a learned model as two plain parquet tables — the merges
    * (rank, left, right, merged, pair_cnt; k rows) and the segmented
    * vocab (word, cnt, toks) — readable by any engine, closing the
    * train-once loop ACROSS sessions exactly like the IVF-PQ model
    * store ([[Similarity.savePqModel]]). */
  def saveBpeModel(model: BpeModel, path: String): Unit = {
    mergesDf(model).repartition(1)
      .write.mode("overwrite").parquet(s"$path/merges")
    model.vocab.select(col("word"), col("cnt"), col("toks"))
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Inverse of [[saveBpeModel]]. Merge rules reassemble rank-ascending
    * (row order on disk is immaterial), so the loaded model applies the
    * rules in the learned order and reproduces the original
    * segmentations bit for bit. */
  def loadBpeModel(path: String,
                   spark: org.apache.spark.sql.SparkSession): BpeModel = {
    val merges = spark.read.parquet(s"$path/merges")
      .select(col("rank").cast("int"), col("left"), col("right"),
        col("merged"), col("pair_cnt").cast("long"))
      .collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .sortBy(_.rank).toSeq
    BpeModel(merges, spark.read.parquet(s"$path/vocab"))
  }

  /** Subword vocabulary of the segmented corpus: top-k subwords by total
    * occurrence count (weighted by word frequency). The tokenizer's
    * emitted vocab table. Like `Relevance.vocabTopTerms`, the global
    * top-k executes as TakeOrdered and the rank is minted AFTER the
    * limit, over k rows — no global sort materialization. */
  def subwordVocab(model: BpeModel, k: Int = 100): DataFrame =
    model.vocab
      .select(explode(col("toks")).as("subword"), col("cnt"))
      .groupBy("subword").agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("subword").asc).limit(k)
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("subword").asc)))
}
