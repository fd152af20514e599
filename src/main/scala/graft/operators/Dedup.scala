package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StringType}
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, n-gram Jaccard, embedding-cosine near-dup.
 *
 * Scale design:
 *  - Exact dedup = hash-groupBy on a 128-bit fingerprint — never groups on
 *    the full text, so the shuffle carries 16 bytes + id per row, not the
 *    document body.
 *  - MinHash/LSH: signatures are computed map-side with codegen'd
 *    higher-order functions (no UDF); candidate generation explodes each doc
 *    into `bands` rows and groups by (band, bandHash) — the classic
 *    shuffle-light near-dup join; only same-bucket pairs are ever compared.
 *  - SimHash: 64-bit signature, bucketed by block-combination tables whose
 *    block count derives from the observed corpus scale (floor: the
 *    historical 4×16-bit chunk layout) for candidate pairs within the
 *    requested Hamming radius.
 *  - All hash families are seeded deterministically (xxhash64 with per-plane
 *    seed literals) so results are reproducible run-to-run — a correctness
 *    requirement for the oracle gate, and an operational one at scale.
 */
object Dedup {

  /** Exact duplicate groups by content fingerprint (md5). Emits one row per
    * distinct content: the keeper (min id), the duplicate count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep the min-id row per distinct content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /**
   * Incremental exact dedup — the corpus-update path: keep only rows of
   * `incoming` that are (a) the min-id keeper of their content within the
   * batch and (b) not already present in `corpus`. At 100 TB the standing
   * corpus never re-dedups: its side reduces to DISTINCT 16-byte
   * fingerprints before the anti-join, so the exchange carries
   * fingerprints only — never bodies — and with the fingerprint set
   * persisted/bucketed between ingests the corpus scan amortizes away
   * entirely (store fingerprints, not text, as the dedup index).
   */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    // Map-side probe, not a direct anti-join against the corpus-sized
    // fingerprint set: the ingest fp set broadcasts INTO the corpus scan
    // (corpus consumed map-only), and only the hit fps — ingest-bounded —
    // broadcast back into the anti-join. The direct form shuffles the
    // whole corpus fingerprint set per ingest once the corpus outgrows
    // the broadcast threshold (same pattern as novelRows; r10).
    val deduped = exactDedup(incoming, idCol, textCol)
    val inFps = deduped.select(md5(col(textCol)).as("_fp")).distinct()
    val hitFps = corpus.select(md5(col(textCol)).as("_fp"))
      .join(broadcast(inFps), "_fp").select(col("_fp")).distinct()
    deduped.join(broadcast(hitFps), md5(col(textCol)) === col("_fp"),
      "left_anti")
  }

  /** Word k-shingles of a document as an array column (codegen'd — no UDF).
    * k-shingle i = tokens[i..i+k) joined by a single space. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    array_distinct(
      filter(
        transform(toks, (_, i) => concat_ws(" ", slice(toks, i + 1, lit(k)))),
        (s: Column) => size(split(s, " ")) === k))
  }

  /** 64-bit hash per k-shingle position, hashing the token-array slice
    * directly (xxhash64 supports array inputs) — no per-shingle string
    * building. Distinct, so the signature sees the shingle *set*. */
  def shingleHashes(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    array_distinct(
      when(n >= k,
        transform(sequence(lit(0), n - k), i => xxhash64(slice(toks, i + 1, lit(k)))))
      .otherwise(array()))
  }

  /**
   * MinHash signature: `numHashes` seeded min-hashes over the doc's shingle
   * set. The expensive content hash runs ONCE per shingle (`shingleHashes`);
   * each of the `numHashes` families then re-hashes that 8-byte value
   * (xxhash64(long, seed)) — 32 long-hashes instead of 32 string-hashes per
   * shingle. One array column, computed entirely map-side.
   */
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    minhashFromHashes(shingleHashes(text, k), numHashes)

  /** Signature from a precomputed shingle-hash array column. `numHashes`
    * array_min passes over the (cheap, long-typed) hash array — measured
    * faster than a single aggregate fold, which allocates a fresh
    * `numHashes`-slot accumulator array per element. */
  def minhashFromHashes(hs: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(hs, h => xxhash64(h, lit(seed))))
    }: _*)

  /**
   * MinHash + LSH candidate pairs: signature of `bands * rowsPerBand`
   * hashes; docs agreeing on all rows of any band become a candidate pair;
   * pairs are then verified with exact shingle-set Jaccard ≥ `tau`.
   *
   * Emits (id_a, id_b, jaccard) with id_a < id_b, deduplicated across bands.
   *
   * Mega-bucket guard: identical documents all share every band hash, so an
   * N-copy cluster would put N rows in one LSH bucket and the self-join
   * would expand it to O(N²) candidate rows × bands — the classic LSH
   * blow-up. Exact dedup therefore runs FIRST: only one keeper per distinct
   * content is banded, and each duplicate is emitted as a (keeper, dup, 1.0)
   * star instead (linear in cluster size; downstream connected-components
   * dedup sees the same clusters). The exact-group pass shuffles only
   * (fingerprint, id, signature) — signatures are computed map-side before
   * it, so document bodies never enter a wide exchange anywhere.
   */
  /** Batch-source width guard (r16, guide §2.5 input skew): a small
    * parquet corpus is ONE scan partition, and a signature pass over it
    * (the dedup families' dominant CPU) then runs on one core. When the
    * scan has fewer partitions than the session width, redistribute the
    * (id, text) rows by id once — at real corpus scale the scan is
    * already wide and this is the identity. Batch-only by contract
    * (`.rdd` — callers never pass streaming frames; the incremental
    * STREAM screens live in StreamPipeline and pre-batch their input).
    */
  private def spreadNarrowScan(df: DataFrame, idCol: String): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (!df.isStreaming && df.rdd.getNumPartitions < n)
      df.repartition(n, col(idCol))
    else df
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                      tau: Double = 0.7): DataFrame = {
    val numHashes = bands * rowsPerBand
    val docs = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // Signature via the native codegen'd expression (one content hash per
    // shingle + numHashes long hashes, tight loop) — the higher-order
    // function pipeline is CodegenFallback and ~20× slower per doc.
    // Lazy localCheckpoint + spread (r16): hashed feeds the keeper
    // aggregate AND the tagged join — without the checkpoint each
    // consumer re-runs the signature pass as its own subtree, on the
    // single scan partition of a small corpus file. The verify text
    // joins below keep reading the plain scan (no signature work there).
    val hashed = spreadNarrowScan(docs, "id")
      .withColumn("sig", GraftFunctions.minhashSignature(col("text"), k, numHashes))
      .withColumn("fp", md5(col("text")))
      .select(col("id"), col("fp"), col("sig"))
      .localCheckpoint(false)
    val keepers = hashed.groupBy(col("fp")).agg(min(col("id")).as("keeper"))
    val tagged = hashed.join(keepers, "fp")
    val dupPairs = tagged.filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(1.0).as("jaccard"))
    val sigs = tagged.filter(col("id") === col("keeper"))
      .select(col("id"), col("sig"))
    // Candidate generation ships (id, band, band_hash) ONLY — at corpus
    // scale the 8× banded explode and the self-join shuffle never carry
    // document bodies; text re-joins for the (small) candidate set below.
    val banded = bandedRows(sigs, bands, rowsPerBand, portable = false)
    val cand = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val keeperPairs = cand
      .join(docs.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .withColumn("sh_a", shingles(col("text_a"), k))
      .withColumn("sh_b", shingles(col("text_b"), k))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    keeperPairs.unionByName(dupPairs)
  }

  /**
   * Engine-portable MinHash + LSH variant: per-permutation hash =
   * the LOWER-64-BIT HEX of `md5(shingle + "#" + perm)`, with the
   * signature minimum taken LEXICOGRAPHICALLY over the fixed-width
   * lowercase hex strings (≡ numeric min, no integer conversion), and
   * the band key = the `|`-joined band rows. Every step is expressible
   * in any engine with md5 — the DuckDB oracle runs the SAME algorithm
   * in SQL, so this variant puts the LSH FAMILY itself (banding +
   * candidate recall), not just the exact-jaccard verify step, under
   * the hash-checked gate. The xxhash64-native [[minhashLshPairs]]
   * remains the scale path (one cheap content hash per shingle vs 32
   * md5 rounds here); both share the mega-bucket guard and the exact
   * verify contract, so the portable gate certifies the structure the
   * native form optimizes.
   *
   * Empty shingle sets (docs shorter than k tokens) hash to '' in every
   * signature row in BOTH engines (explicit coalesce — Spark's
   * concat_ws and DuckDB's array_to_string disagree on null handling),
   * and such pairs are dropped by the verify step (null jaccard).
   */
  /** md5-family signature expression shared by the portable batch,
    * store, and incremental forms (ONE definition — the oracle SQL
    * reproduces exactly this arithmetic): per permutation p, the
    * signature row is the lexicographic minimum over shingles of the
    * lower-64-bit hex of `md5(shingle + "#" + p)`, '' for shingle-less
    * docs. Families-inner single pass — see the plan note at the batch
    * call site. */
  private def portableSigExpr(text: Column, k: Int, numHashes: Int): Column = {
    val sentinel = "￿"
    transform(
      aggregate(shingles(text, k),
        array_repeat(lit(sentinel), numHashes),
        (acc, s) => zip_with(acc,
          transform(sequence(lit(0), lit(numHashes - 1)),
            i => substring(md5(concat(s, lit("#"), i.cast("string"))), 17, 16)),
          (a, b) => least(a, b))),
      x => when(x === lit(sentinel), lit("")).otherwise(x))
  }

  def minhashLshPairsPortable(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                              tau: Double = 0.7): DataFrame = {
    val numHashes = bands * rowsPerBand
    val docs = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // Families-inner single pass: an outer families × inner shingles
    // nesting would re-evaluate the whole shingle-array construction
    // (split + slice + concat_ws) once PER FAMILY — projecting the array
    // out first doesn't help, CollapseProject inlines a once-referenced
    // alias straight back into the lambda. The fold below references the
    // shingle expression exactly once and evaluates it once per row:
    // acc[i] = min over shingles of family-i's hex hash, with a sentinel
    // above every hex string standing in for "empty" (→ '' like the
    // coalesce in the oracle SQL). Measured 4× on the sf0.1 gate.
    // Lazy localCheckpoint + spread (r16): the 8-md5-rounds-per-shingle
    // signature pass was running TWICE (keeper agg + tagged join), each
    // time on the single scan partition of the small corpus file —
    // measured as two ~2 s single-task stages of the 5 s sf0.1 gate.
    // The verify text joins keep the plain scan (no signature work).
    val hashed = spreadNarrowScan(docs, "id")
      .withColumn("sig", portableSigExpr(col("text"), k, numHashes))
      .withColumn("fp", md5(col("text")))
      .select(col("id"), col("fp"), col("sig"))
      .localCheckpoint(false)
    // mega-bucket guard (see minhashLshPairs): band keepers only, emit
    // exact duplicates as a linear (keeper, dup, 1.0) star
    val keepers = hashed.groupBy(col("fp")).agg(min(col("id")).as("keeper"))
    val tagged = hashed.join(keepers, "fp")
    val dupPairs = tagged.filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(1.0).as("jaccard"))
    val sigs = tagged.filter(col("id") === col("keeper"))
      .select(col("id"), col("sig"))
    val banded = bandedRows(sigs, bands, rowsPerBand, portable = true)
    val cand = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val keeperPairs = cand
      .join(docs.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .withColumn("sh_a", shingles(col("text_a"), k))
      .withColumn("sh_b", shingles(col("text_b"), k))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    keeperPairs.unionByName(dupPairs)
  }

  // ---------------------------------------------------------------------
  // Incremental MinHash near-dedup — the daily-ingest path: screen a NEW
  // batch of documents against an already-deduplicated corpus without
  // recomputing or reshuffling anything corpus-sized. Corpus state is the
  // keeper signature store (one (id, fp, sig) row per distinct content,
  // ~300 B at 8×4), maintained across ingests with [[minhashStoreAppend]]
  // — the near-dup analogue of [[incrementalDedup]]'s fingerprint store
  // and `Similarity.semanticDedupIncremental`'s assigned corpus.
  // ---------------------------------------------------------------------

  /** One band row per (keeper, band): `(id, band, band_key)` — the ONE
    * banding definition (native: `hash(sigSlice, band)`; portable:
    * '|'-joined hex rows), used by the batch operators and the
    * incremental screen alike so the incremental ≡ batch equivalence
    * contract can't drift through a one-sided edit. */
  private def bandedRows(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                         portable: Boolean): DataFrame = {
    val keys =
      if (portable)
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("|",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).cast("string"))
      else
        transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)
            .cast("string"))
    sigs.select(col("id"), posexplode(keys))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /** (id, fp, sig) rows for `df` under the given signature family. */
  private def hashedDocs(df: DataFrame, idCol: String, textCol: String,
                         sigOf: Column => Column): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sig", sigOf(col("text")))
      .withColumn("fp", md5(col("text")))
      .select(col("id"), col("fp"), col("sig"))

  /** One keeper (min id) per distinct fp, carrying that row's sig. */
  private def keeperStore(hashed: DataFrame): DataFrame =
    hashed.groupBy(col("fp"))
      .agg(min(struct(col("id"), col("sig"))).as("ks"))
      .select(col("ks.id").as("id"), col("fp"), col("ks.sig").as("sig"))

  /** Keeper signature store for a corpus: one `(id, fp, sig)` row per
    * distinct content, signatures from the xxhash64 native family (the
    * scale path — [[minhashStorePortable]] is the oracle twin). Build
    * once per corpus, persist (e.g. in a `VersionedTable`), screen every
    * subsequent ingest with [[minhashLshPairsIncremental]] — the corpus
    * text is never re-signed. */
  def minhashStore(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    keeperStore(hashedDocs(df, idCol, textCol,
      t => GraftFunctions.minhashSignature(t, k, bands * rowsPerBand)))
  }

  /** md5-family store twin (engine-portable arithmetic — see
    * [[minhashLshPairsPortable]]). Store and screen must use the SAME
    * family and (k, bands, rowsPerBand). */
  def minhashStorePortable(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, bands: Int = 8,
                           rowsPerBand: Int = 4): DataFrame =
    keeperStore(hashedDocs(df, idCol, textCol,
      t => portableSigExpr(t, k, bands * rowsPerBand)))

  /** Signature family of a minhash store, derived from its schema — the
    * ONLY authority on which family a store carries: portable (md5,
    * `array<string>`) vs native (xxhash64, `array<long>`). Deriving (not
    * a caller flag) prevents the silent-mixed-family failure mode where
    * `unionByName` widens `long` → `string` and later screens miss
    * near-dups with no error. */
  private def minhashStoreIsPortable(store: DataFrame): Boolean =
    store.schema.fields.find(_.name == "sig").map(_.dataType) match {
      case Some(ArrayType(StringType, _)) => true
      case Some(ArrayType(LongType, _))   => false
      case other => throw new IllegalArgumentException(
        "minhash store sig must be array<string> (portable md5 family) " +
          s"or array<long> (native xxhash64 family); got $other")
    }

  /** Store maintenance: append an ingested batch's NOVEL contents (fp not
    * already in the store, one keeper per new fp) so the next ingest
    * screens against them. The signature family (native xxhash64 vs
    * portable md5) is DERIVED from the store's `sig` element type — like
    * [[simhashStoreAppend]] — so an append can never mix families. With
    * ids assigned in ingest order,
    * `minhashStoreAppend(minhashStore(corpus), incoming) ≡
    * minhashStore(corpus ∪ incoming)` (spec-pinned, both families). */
  def minhashStoreAppend(store: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String, k: Int = 3,
                         bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val portable = minhashStoreIsPortable(store)
    val sigOf: Column => Column =
      if (portable) t => portableSigExpr(t, k, bands * rowsPerBand)
      else t => GraftFunctions.minhashSignature(t, k, bands * rowsPerBand)
    val inHashed = hashedDocs(incoming, idCol, textCol, sigOf)
    store.unionByName(novelKeepers(inHashed, store))
  }

  /** Incoming rows whose content (fp) is NOT in the store, any hashed
    * schema. Plan shape: the store is probed map-side (broadcast of the
    * small incoming fp set); the store itself never shuffles. */
  private def novelRows(inHashed: DataFrame, store: DataFrame): DataFrame = {
    val hitFps = store.select(col("fp"))
      .join(broadcast(inHashed.select(col("fp")).distinct()), "fp")
      .select(col("fp")).distinct()
    inHashed.join(broadcast(hitFps), Seq("fp"), "left_anti")
  }

  /** Incoming keepers whose content is NOT in the store. */
  private def novelKeepers(inHashed: DataFrame, store: DataFrame): DataFrame =
    keeperStore(novelRows(inHashed, store))

  /**
   * Incremental MinHash+LSH near-dup pairs: all near-dup pairs with at
   * least one side in `incoming` — incoming↔corpus and incoming↔incoming
   * — against a corpus represented ONLY by its signature store plus its
   * text table (touched just for candidate verification).
   *
   * Contract (spec-pinned): with ids assigned in ingest order (every
   * incoming id greater than every corpus id — what any monotone ingest
   * key gives), the output is EXACTLY the batch operator's pairs over
   * `corpus ∪ incoming` restricted to pairs touching `incoming`; batch
   * output over the corpus alone is unchanged. So
   * `batch(corpus) ∪ incremental(incoming, store(corpus), corpus)`
   * ≡ `batch(corpus ∪ incoming)`, and a pipeline can ingest daily
   * without ever re-running the corpus-wide join. Exact incoming
   * duplicates of corpus content star to the CORPUS keeper (id_a) with
   * jaccard 1.0, mirroring the batch mega-bucket guard across the
   * increment boundary.
   *
   * Plan shape at 100 TB: the store scan is joined map-side against the
   * BROADCAST incoming fp set (exact hits) and the BROADCAST incoming
   * band rows (LSH candidates) — the corpus-sized store is never
   * shuffled and the corpus never re-signed; the store is SCANNED a
   * small constant number of times per ingest (the exact-fp probe
   * feeds two branches, plus the band derivation — persist the store
   * if those scans dominate), and only candidate ids (a
   * per-ingest-sized set) reach the text tables for the exact-jaccard
   * verify. Incoming is signed once per reference in this composite plan
   * — persist it if the batch is expensive to recompute.
   *
   * The candidate/ingest broadcast hints are deliberate fail-loud
   * bounds: candidates are sized by ingest × near-dup cluster size, so
   * the only way they outgrow Spark's broadcast limit is an ingest doc
   * near-dupping a corpus-scale cluster of DISTINCT texts — a state
   * where the pair OUTPUT itself is corpus-sized and the screen's
   * contract is moot. The hint makes that fail with a clear broadcast
   * error instead of silently shuffling the whole corpus text table
   * (the measured 13× cliff the hint exists to prevent); pre-cluster
   * the corpus or raise tau rather than removing it.
   */
  def minhashLshPairsIncremental(incoming: DataFrame, store: DataFrame,
                                 corpusText: DataFrame, idCol: String,
                                 textCol: String, k: Int = 3, bands: Int = 8,
                                 rowsPerBand: Int = 4,
                                 tau: Double = 0.7): DataFrame = {
    minhashIncrementalCore(incoming, store, corpusText, idCol, textCol,
      k, bands, rowsPerBand, tau,
      t => GraftFunctions.minhashSignature(t, k, bands * rowsPerBand),
      portable = false)
  }

  /** Oracle twin of [[minhashLshPairsIncremental]] (md5 family): the
    * DuckDB oracle runs the batch pipeline over the re-keyed union and
    * filters to pairs touching the ingest — certifying the incremental
    * path end to end (store probe, cross-increment stars, banded
    * candidates, verify) against the batch semantics. */
  def minhashLshPairsIncrementalPortable(incoming: DataFrame, store: DataFrame,
                                         corpusText: DataFrame, idCol: String,
                                         textCol: String, k: Int = 3,
                                         bands: Int = 8, rowsPerBand: Int = 4,
                                         tau: Double = 0.7): DataFrame =
    minhashIncrementalCore(incoming, store, corpusText, idCol, textCol,
      k, bands, rowsPerBand, tau,
      t => portableSigExpr(t, k, bands * rowsPerBand), portable = true)

  private def minhashIncrementalCore(incoming: DataFrame, store: DataFrame,
                                     corpusText: DataFrame, idCol: String,
                                     textCol: String, k: Int, bands: Int,
                                     rowsPerBand: Int, tau: Double,
                                     sigOf: Column => Column,
                                     portable: Boolean): DataFrame = {
    require(store.columns.toSeq == Seq("id", "fp", "sig"),
      s"store must be a minhashStore frame (id, fp, sig); got " +
        store.columns.mkString(", "))
    // Family check: both families share the column NAMES, so name checks
    // alone would let a portable (md5) store through the native screen —
    // band keys then never match and corpus candidate recall silently
    // drops to zero. Fail loud on element-type mismatch instead.
    require(minhashStoreIsPortable(store) == portable,
      s"store signature family (${if (minhashStoreIsPortable(store)) "portable md5"
        else "native xxhash64"}) does not match the requested screen " +
        s"(${if (portable) "portable" else "native"}); build the store with " +
        "the matching minhashStore/minhashStorePortable")
    val inDocs = incoming.select(col(idCol).as("id"), col(textCol).as("text"))
    val inHashed = hashedDocs(incoming, idCol, textCol, sigOf)
    // Exact-content hits: incoming rows duplicating corpus content star
    // to the corpus keeper and are NOT banded (the batch mega-bucket
    // guard, extended across the increment boundary). Broadcast the
    // incoming side so the store scan stays map-side.
    val hits = store.select(col("id").as("keeper"), col("fp"))
      .join(broadcast(inHashed.select(col("id"), col("fp"))), "fp")
    val crossStars = hits.select(col("keeper").as("id_a"),
      col("id").as("id_b"), lit(1.0).as("jaccard"))
    val hitFps = hits.select(col("fp")).distinct()
    val novel = inHashed.join(broadcast(hitFps), Seq("fp"), "left_anti")
    val inKeep = keeperStore(novel)
    // keeper side EXPLICITLY broadcast: both sides are ingest-bounded by
    // contract, but the planner's size estimate for them scales with the
    // backing corpus FILE (the ingest is typically a filtered slice of a
    // growing table), so the join silently demoted to a sort-merge join
    // — one extra scale-growing exchange — once the corpus hit ~500k
    // docs (r10 executed-plan soak find, the r9 verify-join class).
    val inStars = novel
      .join(broadcast(inKeep.select(col("fp"), col("id").as("keeper"))), "fp")
      .filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(1.0).as("jaccard"))
    // LSH candidates: corpus bands derive map-side from stored sigs; the
    // small new-keeper band table broadcasts into them. id_b is always
    // the incoming side (ingest-order ids make corpus < incoming).
    val newBanded = bandedRows(inKeep, bands, rowsPerBand, portable)
    val storeBanded = bandedRows(store.select(col("id"), col("sig")),
      bands, rowsPerBand, portable)
    def bandJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.alias("a").join(broadcast(b.alias("b")),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cand = bandJoin(storeBanded, newBanded)
      .unionByName(bandJoin(newBanded, newBanded))
      .dropDuplicates("id_a", "id_b")
    // Verify: exact shingle jaccard, texts fetched for candidate ids only
    // (id_a may be corpus or incoming; id_b is incoming). The candidate
    // pair set is EXPLICITLY broadcast into the text scan — candidates
    // are per-ingest-sized (bounded by ingest × near-dup cluster size),
    // while without the hint AQE legitimately picks a sort-merge join
    // once candidates outgrow the auto-broadcast threshold and the WHOLE
    // corpus text shuffles: measured at the 5M-doc soak, the screen
    // inflated 13× for 10× corpus; with the hint the corpus text is
    // consumed map-only at every size.
    val textA = corpusText
      .select(col(idCol).as("id_a"), col(textCol).as("text_a"))
      .unionByName(inDocs.select(col("id").as("id_a"), col("text").as("text_a")))
    val verified = textA
      .join(broadcast(cand), Seq("id_a"))
      .join(broadcast(inDocs.select(col("id").as("id_b"),
        col("text").as("text_b"))), Seq("id_b"))
      .withColumn("sh_a", shingles(col("text_a"), k))
      .withColumn("sh_b", shingles(col("text_b"), k))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    verified.unionByName(crossStars).unionByName(inStars)
  }

  /**
   * 64-bit SimHash over whitespace tokens: sign-sum of per-token xxhash64
   * bits. Single-pass expression pipeline: one fold over the token array
   * accumulating a 64-slot vote array (one xxhash64 per token, not 64),
   * then one fold over the votes to assemble the signature. Keeps the
   * generated code linear in tokens instead of 64 independent aggregates.
   */
  def simhash64(text: Column): Column = {
    val toks = array_distinct(split(text, " "))
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    val votes = aggregate(toks, array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, powers,
          (a, p) => a + when(h.bitwiseAND(p) =!= 0L, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /**
   * Engine-portable SimHash variant: the per-token 64-bit hash is the
   * lower 64 hex chars of md5(token), carried as TWO 32-bit halves
   * (`conv(hex, 16, 10)` on 8-char substrings never leaves signed-long
   * range; the DuckDB oracle folds the same chars in exact integer
   * arithmetic), and the signature is likewise kept as (hi, lo) 32-bit
   * longs end to end — no signed-64 assembly to diverge on. Banding is
   * the same 4×16-bit pigeonhole as the native form; hamming =
   * bit_count(lo⊕lo) + bit_count(hi⊕hi). Puts the SimHash FAMILY
   * (signature, banding, hamming verify) under the exact DuckDB oracle;
   * [[simhashPairs]] (one native xxhash64 per token) remains the scale
   * path. Same mega-bucket guard.
   */
  /** (id, fp, sig_hi, sig_lo) rows under the portable md5 family. */
  private def simhashHashedPortable(df: DataFrame, idCol: String,
                                    textCol: String): DataFrame = {
    val powers32 = array((0 until 32).map(i => lit(1L << i)): _*)
    def hexToLong(c: Column): Column = conv(c, 16, 10).cast("long")
    val toks = array_distinct(split(col(textCol), " "))
    // One md5 per token: the inner transform binds the digest to a lambda
    // variable, so both 32-bit halves slice the SAME evaluated string
    // (md5(t) written twice inside the struct would run twice — HOF
    // lambdas are interpreted, with no subexpression sharing).
    val tokHashes = transform(transform(toks, t => md5(t)), m => struct(
      hexToLong(substring(m, 17, 8)).as("hi"),
      hexToLong(substring(m, 25, 8)).as("lo")))
    // Both halves' bit votes in ONE pass over the token hashes, shared
    // downstream through a struct column referenced twice — CollapseProject
    // inlines once-referenced aliases into consumers (re-running the pass
    // per half) but keeps non-cheap aliases with two references.
    val votesExpr = aggregate(tokHashes,
      struct(array_repeat(lit(0L), 32).as("vh"),
        array_repeat(lit(0L), 32).as("vl")),
      (acc, h) => struct(
        zip_with(acc.getField("vh"), powers32, (a, p) =>
          a + when(h.getField("hi").bitwiseAND(p) =!= 0L, 1L).otherwise(-1L))
          .as("vh"),
        zip_with(acc.getField("vl"), powers32, (a, p) =>
          a + when(h.getField("lo").bitwiseAND(p) =!= 0L, 1L).otherwise(-1L))
          .as("vl")))
    def bits(votes: Column): Column = aggregate(
      zip_with(votes, powers32, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
    df.select(col(idCol).as("id"),
        md5(col(textCol)).as("fp"), votesExpr.as("_votes"))
      .select(col("id"), col("fp"),
        bits(col("_votes").getField("vh")).as("sig_hi"),
        bits(col("_votes").getField("vl")).as("sig_lo"))
  }

  /** Portable-form combination banding over the (sig_hi, sig_lo) 32-bit
    * halves — same derived layout as [[simhashBanded]]; blocks split
    * lo-half-first (the lo half takes the extra block when the count is
    * odd), so the floor layout reproduces the historical 4×16 tables the
    * oracle gates were derived under bit for bit. */
  private def simhashBandedPortable(sigs: DataFrame, maxHamming: Int,
                                    blocks: Int): DataFrame = {
    val bLo = (blocks + 1) / 2
    val blockCols = (
      chunkRanges(32, bLo).map { case (off, w) =>
        (chunkOf(col("sig_lo"), off, w), w) } ++
      chunkRanges(32, blocks - bLo).map { case (off, w) =>
        (chunkOf(col("sig_hi"), off, w), w) }
    ).toIndexedSeq
    val keys = simhashCombos(blocks, maxHamming).map(tableKey(blockCols, _))
    sigs.select(col("id"), col("sig_hi"), col("sig_lo"),
        posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
  }

  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3,
                           corpusHint: Long = -1L): DataFrame = {
    val blocks = simhashBlocks(maxHamming,
      if (corpusHint >= 0L) corpusHint else estimatedSigRows(df))
    // spread + compute-once (r16): the per-token md5 vote pass ran twice
    // (keeper agg + tagged join) on the single scan partition of a small
    // corpus file — two single-task ~2 s stages at sf0.1. The spread is
    // identity at real corpus widths; the checkpoint is signature-sized.
    val hashed = simhashHashedPortable(spreadNarrowScan(df, idCol),
      idCol, textCol).localCheckpoint(false)
    val keepers = hashed.groupBy(col("fp")).agg(min(col("id")).as("keeper"))
    val tagged = hashed.join(keepers, "fp")
    val dupPairs = tagged.filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(0).as("hamming"))
    val sigs = tagged.filter(col("id") === col("keeper"))
      .select(col("id"), col("sig_hi"), col("sig_lo"))
    val banded = simhashBandedPortable(sigs, maxHamming, blocks)
    val a = banded.alias("a")
    val b = banded.alias("b")
    val keeperPairs = a.join(b,
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig_hi").as("hi_a"), col("a.sig_lo").as("lo_a"),
        col("b.sig_hi").as("hi_b"), col("b.sig_lo").as("lo_b"))
      // hamming BEFORE the pair dedup (r16, guide §2.3 "aggregate before
      // you shuffle"): the verify is pure carried-signature bit
      // arithmetic, so evaluating it map-side per candidate occurrence
      // (≤ tables-per-doc re-evaluations of two bit_counts) costs
      // nothing, while the dropDuplicates exchange then carries only
      // SURVIVING pairs instead of every band collision. Identical
      // output: duplicates of a pair carry identical signatures, so
      // filter-then-dedup ≡ dedup-then-filter.
      .withColumn("hamming",
        bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
    keeperPairs.unionByName(dupPairs)
  }

  /** SimHash near-dup candidate pairs within Hamming distance ≤ maxHamming,
    * using pigeonhole block-combination bucketing sized from the observed
    * corpus scale ([[simhashBlocks]]) — any pair within the radius shares
    * at least one exact table key, at EVERY radius and block count
    * (spec-pinned against the brute-force signature reference, at mixed
    * corpus hints). `corpusHint` overrides the planner-stats scale
    * estimate when the caller knows the corpus size (< 0 = derive).
    *
    * Same mega-bucket guard as [[minhashLshPairs]]: identical documents
    * share the whole 64-bit signature, so an N-copy cluster would make all
    * four band buckets O(N²). Exact dedup runs first — one keeper per
    * distinct content is banded; duplicates return as a linear
    * (keeper, dup, hamming = 0) star. The guard pass shuffles only
    * (fingerprint, id, sig); bodies stay out of every wide exchange. */
  /** (id, fp, sig) rows under the native xxhash64 SimHash family. */
  private def simhashHashed(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    df.select(col(idCol).as("id"), md5(col(textCol)).as("fp"),
      GraftFunctions.simhash64(col(textCol)).as("sig"))
  }

  /**
   * Signature block count for a requested Hamming radius and an OBSERVED
   * corpus scale — the SimHash twin of [[edgeShufflePartitions]]'s
   * derive-from-data discipline (r11; the fixed 4×16 layout made random
   * candidate collisions grow linearly with the corpus: ~tables·n²/2¹⁶
   * pairs at any size, the one linear step left in the r10 soak ladder).
   *
   * Banding generalizes to block-COMBINATION tables (the standard
   * construction from Manku et al., "Detecting Near-Duplicates for Web
   * Crawling", WWW'07): split the 64 bits into `b` blocks and key one
   * table per distinct `(b − maxHamming)`-block combination. A pair
   * within the radius differs in ≤ maxHamming blocks, so it agrees on
   * ≥ b − maxHamming and at least one table keys it identically — the
   * pigeonhole guarantee holds at EVERY b ≥ maxHamming + 1, while key
   * width grows to 64·(b−r)/b bits, shrinking random collisions
   * exponentially at the price of C(b, r) tables (explode rows).
   *
   * `b` is the smallest block count whose expected random-collision
   * volume (tables · n²/2^keyBits, the uniform-signature self-join
   * model — the worst consumer; the incremental screens' n·m cross term
   * is strictly smaller) stays within ~4n, i.e. candidates stay linear
   * in the corpus. Floor: max(4, maxHamming+1), which at the default
   * radius is EXACTLY the historical 4×16 single-chunk layout — small
   * corpora and hint-less callers keep the certified gate plan. Caps:
   * 32 blocks (2-bit blocks are the useful minimum) and 64 tables (the
   * per-signature explode factor). Output pairs are layout-INVARIANT
   * (banding only generates candidates; the hamming verify is exact),
   * spec-pinned against the brute-force reference at mixed hints.
   */
  private[operators] def simhashBlocks(maxHamming: Int,
                                       corpusCount: Long): Int = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31]; got $maxHamming")
    val floor = math.max(4, maxHamming + 1)
    if (corpusCount <= 0L) return floor
    val n = corpusCount.toDouble
    def tables(b: Int): Double = {
      val k = math.min(maxHamming, b - maxHamming)
      (1 to k).foldLeft(1.0)((acc, i) => acc * (b - k + i) / i)
    }
    def collisions(b: Int): Double = {
      val keyBits = 64.0 * (b - maxHamming) / b
      tables(b) * n * n / math.pow(2.0, math.min(62.0, keyBits))
    }
    var b = floor
    while (b < 32 && collisions(b) > 4.0 * n && tables(b + 1) <= 64.0) b += 1
    b
  }

  /** Table key block-combinations for `blocks` blocks at the given
    * radius: every `(blocks − maxHamming)`-subset, in deterministic
    * lexicographic order (band index = combination index). At the floor
    * layout (blocks = maxHamming + 1) these are the single-block subsets
    * — the historical per-chunk tables, bit for bit. */
  private[operators] def simhashCombos(blocks: Int,
                                       maxHamming: Int): Seq[Seq[Int]] =
    (0 until blocks).combinations(blocks - maxHamming).map(_.toSeq).toSeq

  /** Concatenate a combination's block values (MSB-first fold) into one
    * long table key — selected widths total ≤ 64 bits by construction. */
  private def tableKey(blockCols: IndexedSeq[(Column, Int)],
                       combo: Seq[Int]): Column =
    combo.foldLeft(lit(0L)) { case (acc, bi) =>
      val (c, w) = blockCols(bi)
      shiftleft(acc, w).bitwiseOR(c)
    }

  /** Zero-cost corpus-scale estimate for banding-table sizing: the
    * planner's size estimate over an assumed ~64-byte signature-row
    * width. No action is triggered (the [[edgeShufflePartitions]]
    * precedent counts a frame it already materializes; nothing here is),
    * and the estimate errs only UPWARD when the frame still carries
    * document text — wider rows ⇒ higher count ⇒ wider table keys than
    * strictly needed, costing a few extra tables but never recall.
    * Order-of-magnitude accuracy is all [[simhashBlocks]] consumes.
    * Plans with NO computed stats (LogicalRDD, streaming micro-batch
    * sources) report the `spark.sql.defaultSizeInBytes` sentinel, not a
    * size — that would silently select the maximum table layout (up to
    * a 56-64× per-signature explode) on a tiny in-memory frame, so a
    * sentinel-valued estimate is treated as "no estimate" and falls
    * back to the floor layout (ADVICE r11). The check walks the plan's
    * LEAVES, not just the root (ADVICE r13): a projection, filter, or
    * join COMPOSED over a no-stats source reports a sentinel-DERIVED
    * size (Project scales by row-width ratio, Join multiplies) that no
    * longer equals the sentinel exactly, so a root-only equality check
    * let the garbage estimate through as real — any leaf at the
    * sentinel poisons everything derived above it. Leaf equality, not
    * `>=`: deployments lower `defaultSizeInBytes` as a broadcast
    * tuning, and under a lowered sentinel a genuinely large LEAF with
    * real stats can legitimately size above it — `>=` would silently
    * demote it to the floor layout (ADVICE r12). Output is
    * banding-invariant either way; only the explode factor moves. */
  private[operators] def estimatedSigRows(df: DataFrame): Long = {
    val plan = df.queryExecution.optimizedPlan
    val sentinel = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val noStats = plan.collectLeaves().exists { l =>
      val s = l.stats
      s.sizeInBytes == sentinel && s.rowCount.isEmpty
    }
    if (noStats) 1L
    else (plan.stats.sizeInBytes / 64)
      .min(BigInt(Long.MaxValue)).max(BigInt(1)).toLong
  }

  /** Contiguous (offset, width) bit ranges splitting `width` bits into
    * `n` chunks, earlier chunks taking the remainder bits. */
  private def chunkRanges(width: Int, n: Int): Seq[(Int, Int)] = {
    val base = width / n
    val extra = width % n
    var off = 0
    (0 until n).map { i =>
      val w = base + (if (i < extra) 1 else 0)
      val r = (off, w); off += w; r
    }
  }

  private def chunkOf(sig: Column, off: Int, w: Int): Column =
    shiftright(sig, off).bitwiseAND(lit((1L << w) - 1L))

  /** One (id, sig, band, chunk) row per combination table — the ONE
    * pigeonhole-banding definition shared by the batch and incremental
    * native forms. Block count derives from the radius AND the observed
    * corpus scale ([[simhashBlocks]]); band = table index, chunk = the
    * table's concatenated block key. The r10 fixed-chunk form silently
    * lost candidate recall above radius 3 (hamming 4+ pairs can touch
    * all four chunks); combination tables keep the guarantee at every
    * radius and every block count. */
  private def simhashBanded(sigs: DataFrame, maxHamming: Int,
                            blocks: Int): DataFrame = {
    val blockCols = chunkRanges(64, blocks).map { case (off, w) =>
      (chunkOf(col("sig"), off, w), w)
    }.toIndexedSeq
    val keys = simhashCombos(blocks, maxHamming).map(tableKey(blockCols, _))
    sigs.select(col("id"), col("sig"), posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, corpusHint: Long = -1L): DataFrame = {
    val blocks = simhashBlocks(maxHamming,
      if (corpusHint >= 0L) corpusHint else estimatedSigRows(df))
    // spread + compute-once (r16): see simhashPairsPortable
    val hashed = simhashHashed(spreadNarrowScan(df, idCol), idCol, textCol)
      .localCheckpoint(false)
    val keepers = hashed.groupBy(col("fp")).agg(min(col("id")).as("keeper"))
    val tagged = hashed.join(keepers, "fp")
    val dupPairs = tagged.filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(0).as("hamming"))
    val sigs = tagged.filter(col("id") === col("keeper"))
      .select(col("id"), col("sig"))
    val banded = simhashBanded(sigs, maxHamming, blocks)
    val a = banded.alias("a")
    val b = banded.alias("b")
    val keeperPairs = a.join(b,
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      // hamming BEFORE the pair dedup (r16): map-side bit arithmetic is
      // free next to shuffling every band collision — the dedup exchange
      // carries survivors only. Identical output (see the portable twin).
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
    keeperPairs.unionByName(dupPairs)
  }

  // ---------------------------------------------------------------------
  // Incremental SimHash — the SimHash twin of the incremental MinHash
  // screen (same ingest-order-id contract, same store discipline), for
  // pipelines whose near-dup notion is Hamming distance over token-set
  // fingerprints rather than shingle Jaccard. Simpler at scale than the
  // MinHash form: the verify step is pure signature arithmetic, so no
  // text table is ever touched — the corpus exists ONLY as its (id, fp,
  // sig) store.
  // ---------------------------------------------------------------------

  /** Keeper SimHash store for a corpus: `(id, fp, sig)`, native family. */
  def simhashStore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    keeperStore(simhashHashed(df, idCol, textCol))

  /** Portable-family store twin: `(id, fp, sig_hi, sig_lo)`. */
  def simhashStorePortable(df: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    keeperStoreHiLo(simhashHashedPortable(df, idCol, textCol))

  private def keeperStoreHiLo(hashed: DataFrame): DataFrame =
    hashed.groupBy(col("fp"))
      .agg(min(struct(col("id"), col("sig_hi"), col("sig_lo"))).as("ks"))
      .select(col("ks.id").as("id"), col("fp"),
        col("ks.sig_hi").as("sig_hi"), col("ks.sig_lo").as("sig_lo"))

  /** Append an ingest's novel contents to a SimHash store (either
    * family — detected from the store schema). Same rebuild equivalence
    * as [[minhashStoreAppend]], spec-pinned. */
  def simhashStoreAppend(store: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String): DataFrame =
    if (store.columns.contains("sig_hi"))
      store.unionByName(keeperStoreHiLo(
        novelRows(simhashHashedPortable(incoming, idCol, textCol), store)))
    else
      store.unionByName(keeperStore(
        novelRows(simhashHashed(incoming, idCol, textCol), store)))

  /**
   * Incremental SimHash near-dup pairs: all pairs with at least one side
   * in `incoming`, against a corpus represented ONLY by its signature
   * store — the store is scanned map-side (broadcast ingest fp set +
   * band rows), never shuffled, and no text is read for verification
   * (hamming is computed from the stored signatures). Same contract as
   * [[minhashLshPairsIncremental]]: with ingest-order ids, output ≡ the
   * batch operator's pairs over the union restricted to pairs touching
   * the ingest (spec-pinned, both families).
   */
  def simhashPairsIncremental(incoming: DataFrame, store: DataFrame,
                              idCol: String, textCol: String,
                              maxHamming: Int = 3,
                              corpusHint: Long = -1L): DataFrame = {
    // table layout sizes from the STORE (the corpus side); both banded
    // frames must share it or the band join keys are incomparable
    val blocks = simhashBlocks(maxHamming,
      if (corpusHint >= 0L) corpusHint else estimatedSigRows(store))
    val inHashed = simhashHashed(incoming, idCol, textCol)
    val hits = store.select(col("id").as("keeper"), col("fp"))
      .join(broadcast(inHashed.select(col("id"), col("fp"))), "fp")
    val crossStars = hits.select(col("keeper").as("id_a"),
      col("id").as("id_b"), lit(0).as("hamming"))
    val novel = novelRows(inHashed, store)
    val inKeep = keeperStore(novel)
    val inStars = novel
      // explicit broadcast: ingest-bounded side whose planner estimate
      // scales with the corpus file — see minhashIncrementalCore
      .join(broadcast(inKeep.select(col("fp"), col("id").as("keeper"))), "fp")
      .filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(0).as("hamming"))
    val newBanded = simhashBanded(inKeep, maxHamming, blocks)
    val storeBanded = simhashBanded(store.select(col("id"), col("sig")),
      maxHamming, blocks)
    def bandJoin(x: DataFrame, y: DataFrame): DataFrame =
      x.alias("a").join(broadcast(y.alias("b")),
          col("a.band") === col("b.band") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    val verified = bandJoin(storeBanded, newBanded)
      .unionByName(bandJoin(newBanded, newBanded))
      // hamming before the pair dedup (r16): the dedup exchange — the
      // incremental screen's ONLY corpus-side shuffle — carries
      // survivors only. Identical output (see simhashPairs).
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
    verified.unionByName(crossStars).unionByName(inStars)
  }

  /** Oracle twin of [[simhashPairsIncremental]] (md5 (hi, lo) family):
    * the DuckDB gate runs the batch portable pipeline over the re-keyed
    * union and keeps ingest-touching pairs. */
  def simhashPairsIncrementalPortable(incoming: DataFrame, store: DataFrame,
                                      idCol: String, textCol: String,
                                      maxHamming: Int = 3,
                                      corpusHint: Long = -1L): DataFrame = {
    val blocks = simhashBlocks(maxHamming,
      if (corpusHint >= 0L) corpusHint else estimatedSigRows(store))
    val inHashed = simhashHashedPortable(incoming, idCol, textCol)
    val hits = store.select(col("id").as("keeper"), col("fp"))
      .join(broadcast(inHashed.select(col("id"), col("fp"))), "fp")
    val crossStars = hits.select(col("keeper").as("id_a"),
      col("id").as("id_b"), lit(0).as("hamming"))
    val novel = novelRows(inHashed, store)
    val inKeep = keeperStoreHiLo(novel)
    val inStars = novel
      // explicit broadcast: ingest-bounded side whose planner estimate
      // scales with the corpus file — see minhashIncrementalCore
      .join(broadcast(inKeep.select(col("fp"), col("id").as("keeper"))), "fp")
      .filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        lit(0).as("hamming"))
    val newBanded = simhashBandedPortable(inKeep, maxHamming, blocks)
    val storeBanded = simhashBandedPortable(
      store.select(col("id"), col("sig_hi"), col("sig_lo")), maxHamming,
      blocks)
    def bandJoin(x: DataFrame, y: DataFrame): DataFrame =
      x.alias("a").join(broadcast(y.alias("b")),
          col("a.band") === col("b.band") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.sig_hi").as("hi_a"), col("a.sig_lo").as("lo_a"),
          col("b.sig_hi").as("hi_b"), col("b.sig_lo").as("lo_b"))
    val verified = bandJoin(storeBanded, newBanded)
      .unionByName(bandJoin(newBanded, newBanded))
      // hamming before the pair dedup (r16): survivors-only dedup
      // exchange. Identical output (see simhashPairsPortable).
      .withColumn("hamming",
        bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
    verified.unionByName(crossStars).unionByName(inStars)
  }

  /**
   * Duplicate-cluster resolution: the completion step of every pair-emitting
   * dedup family. Near-dup pairs form a graph; a training pipeline keeps one
   * doc per CONNECTED COMPONENT (near-dup is not transitive, but keeping one
   * per component is the standard conservative policy). Emits
   * (doc_id, cluster_id) for every id appearing in `pairs`, cluster_id =
   * min id of the component — filter `doc_id = cluster_id` for keepers.
   *
   * Iterative min-label propagation with POINTER DOUBLING: each round every
   * node takes the min of (its label, its neighbors' labels, its label's
   * label). The neighbor step alone converges in O(component diameter)
   * rounds; the label-of-label jump short-circuits chains so convergence is
   * O(log diameter) — the difference between 20 rounds and 5 on the long
   * chain components a low Jaccard threshold produces. Both steps are a
   * join + the shared groupBy-min; everything stays distributed.
   *
   * Every new label frontier is `localCheckpoint`ed: persist alone leaves
   * the LOGICAL plan growing by two joins per round, and Catalyst
   * re-optimizes the whole history each round — at 20 rounds the optimizer
   * overhead dwarfs the actual shuffles. Checkpointing truncates the plan
   * to the materialized blocks. At 100 TB swap localCheckpoint for a
   * reliable `checkpoint` dir — same truncation, executor-loss-safe.
   *
   * The two O(edges) frames (the pair snapshot and the symmetric edge
   * table) checkpoint DISK_ONLY: at 30× soak volume the default
   * memory-first storage unrolled ~130M deserialized edge rows and needed
   * a 64 GB driver (PLANS.md round 8) — a disk-backed checkpoint runs on
   * default memory and the per-round reads are sequential block scans.
   * Label frontiers are O(nodes) and stay memory-first.
   *
   * Shuffle width is derived from the DATA, not the session: the edge
   * table repartitions to `max(session shuffle partitions,
   * ceil(2·pairs / targetEdgesPerPartition))` on the JOIN key `t` before
   * checkpointing (the round-8 soak spilled 4× at 8 session partitions ×
   * 130M edges). Because hash(t) satisfies the distinct's (s,t)
   * clustering AND the propagation join's t clustering — and
   * checkpointing preserves partitioning and ordering — the width is
   * paid ONCE: the distinct aggregates in place, and every sort-merge
   * round consumes the checkpointed edge blocks with NO per-round edge
   * exchange or sort (edges are pre-sorted within partitions). Label
   * frames repartition to the same width on `id`, so the propagation
   * join is fully co-partitioned; the only per-round exchanges are the
   * O(nodes) label-by-label jump and the O(nodes) min-label aggregate.
   *
   * Convergence: min-propagation is monotone (a node's label never
   * increases), so the decimal label sum strictly decreases until the fixed
   * point — sum-unchanged IS convergence, no old-vs-new comparison join
   * needed. Decimal sum avoids overflow at any id range/corpus size.
   *
   * Small-graph fast path: the pair count is already materialized (the
   * persist above), so when it fits comfortably in driver memory
   * (`localEdgeThreshold`, default 4M edges ≈ a few hundred MB boxed) the
   * component resolution runs as driver union-find — the same
   * threshold-switch design as broadcast joins. Near-dup edge sets are
   * typically ~0.1% of corpus rows, so even multi-TB corpora often take
   * this path; beyond it the distributed pointer-doubling loop runs.
   * Both paths produce identical labels (test-pinned).
   *
   * The distributed loop itself is two-tier: the label frame carries
   * one row per NODE, and below `broadcastNodeLimit` (counted by the
   * seed probe — a checkpointed frame has no stats for the planner to
   * see) it is broadcast into both round joins, so the checkpointed
   * edge table is never re-shuffled and the only per-round exchange is
   * the O(nodes) groupBy; above the limit the fully general sort-merge
   * rounds run. Measured at a 7.7M-edge soak: broadcast rounds cut the
   * round cost ~2× and, with the checkpoint-truncated plans, total
   * time scales linearly in edges (PLANS.md round 6).
   *
   * Null contract: a pair row with a null id on EITHER side is ignored
   * entirely — labels are emitted only for ids appearing in at least one
   * fully-non-null pair. Enforced identically on both paths (the filter
   * sits upstream of the path switch), so output never depends on which
   * path the edge count selects.
   */
  /** Shuffle width for an `nEdges`-row edge frame: never below the
    * session's parallelism, widened so no partition holds more than
    * `targetRowsPerPartition` edge rows (~100–150 MB at two ids + overhead
    * per row — comfortably in-memory per task). Derived from the OBSERVED
    * edge count, not session config: the round-8 soak spilled 4× when 130M
    * edges met 8 session partitions, and that knowledge belongs in the
    * operator, not in a runbook. Capped at 65536 as a runaway guard. */
  private[operators] def edgeShufflePartitions(
      sessionParts: Int, nEdges: Long, targetRowsPerPartition: Long): Int = {
    val target = math.max(1L, targetRowsPerPartition)
    val needed = (nEdges + target - 1L) / target
    math.max(sessionParts, math.min(needed, 65536L).toInt)
  }

  def resolveClusters(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 20,
                      localEdgeThreshold: Long = 4000000L,
                      broadcastNodeLimit: Long = 8000000L,
                      targetEdgesPerPartition: Long = 4000000L): DataFrame = {
    // The pair plan is usually the expensive part (a candidate join); the
    // symmetric-closure union scans it twice. Persist + materialize first so
    // the pair computation runs exactly once.
    // localCheckpoint, not persist: persist caches the DATA but leaves the
    // full upstream LOGICAL plan (often an expensive candidate join) in
    // place, and every round's lazy localCheckpoint then re-runs Catalyst
    // over that whole history during plan compilation — at 7M+ pairs the
    // driver spends multiples of the actual shuffle time optimizing.
    // Checkpointing truncates the plan to the materialized blocks, so
    // per-round planning is O(round plan), not O(pair pipeline).
    val p = pairs.select(col(idA).as("s"), col(idB).as("t"))
      .filter(col("s").isNotNull && col("t").isNotNull)
      .localCheckpoint(false, StorageLevel.DISK_ONLY)
    val nPairs = p.count()
    if (nPairs <= localEdgeThreshold) return resolveClustersLocal(p)
    val spark = pairs.sparkSession
    val nP = edgeShufflePartitions(
      spark.sessionState.conf.numShufflePartitions, 2L * nPairs,
      targetEdgesPerPartition)
    // The co-partitioning design below only works when the checkpoints
    // CAPTURE their partitioning: under AQE the executed plan is an
    // AdaptiveSparkPlanExec whose outputPartitioning is unknown at
    // capture time, so every checkpoint degrades to an unpartitioned
    // LogicalRDD and each round re-shuffles the full edge table (probed
    // empirically — see PLANS.md round 9). The propagation loop therefore
    // compiles with AQE OFF: its plan shapes are fixed and its exchange
    // widths hand-derived from observed counts, which is precisely the
    // sizing AQE exists to guess. Restored in the finally (the returned
    // frame is a checkpoint, so downstream consumers re-plan under the
    // caller's own conf). Session-visible while the loop runs — the one
    // documented side effect: queries the caller plans CONCURRENTLY on
    // this session during the loop compile without AQE. The JVM-wide
    // lock below keeps overlapping resolveClusters calls from racing the
    // toggle itself (first caller's restore would re-enable AQE mid-loop
    // for the second — silently reinstating the per-round re-shuffle);
    // propagation loops on one driver serialize, which at their size
    // they would effectively do anyway.
    aqeLoopLock.synchronized {
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = spark.conf.get(aqeKey, "true")
    spark.conf.set(aqeKey, "false")
    try {
    // Repartition on the JOIN key (t) BEFORE the distinct: hash(t)
    // satisfies the distinct's (s,t) clustering, so the derived width is
    // the symmetric closure's ONLY exchange, and the checkpoint then
    // carries hash(t, nP) + within-partition t-order into every
    // propagation round (see scaladoc — no per-round edge exchange/sort).
    val edges = p
      .union(p.select(col("t").as("s"), col("s").as("t")))
      .repartition(nP, col("t"))
      .distinct()
      .sortWithinPartitions("t")
      .localCheckpoint(false, StorageLevel.DISK_ONLY)
    // seed = min(self, direct neighbors) — one agg, no join; a clique
    // anchored at its min node is already converged after this. The edge
    // table is SYMMETRIC, so grouping on t (min s) is the same relation
    // as grouping on s (min t) — and the t-grouping is satisfied by the
    // checkpoint's hash(t, nP) partitioning: the seed aggregates IN
    // PLACE over the edge blocks, zero exchange (the s-grouping form
    // would re-shuffle the full edge volume), and hands the label
    // frontier hash(id, nP) partitioning through the rename — round 1
    // starts co-partitioned with the edge table.
    var labels = edges.groupBy(col("t")).agg(min(col("s")).as("_mn"))
      .select(col("t").as("id"), least(col("t"), col("_mn")).as("label"))
      .localCheckpoint(false) // lazy: the baseline sum probe materializes it
    def labelProbe(df: DataFrame): (java.math.BigDecimal, Long) = {
      // sum over zero rows is NULL — coalesce so an empty pair set (a
      // corpus with no near-dups) converges instead of NPE-ing
      val r = df.agg(sum(col("label").cast(DecimalType(38, 0))),
        count(lit(1))).head()
      val s = r.getDecimal(0)
      (if (s == null) java.math.BigDecimal.ZERO else s, r.getLong(1))
    }
    val (seedSum, nNodes) = labelProbe(labels)
    // The seed probe above materialized the edge checkpoint; the pair
    // snapshot is dead from here on — release its O(pairs) disk blocks
    // before the rounds rather than holding both frames for the loop's
    // lifetime (at the 100× soak that is ~18 GB of disk headroom).
    p.unpersist()
    var prevSum: java.math.BigDecimal = seedSum
    // A checkpointed label frame is a LogicalRDD with NO stats — Spark
    // plans every round's join as a full sort-merge, re-shuffling the
    // edge table per round. The label frame has exactly one row per
    // node; when that fits a broadcast, hint it explicitly: both round
    // joins become map-side over the checkpointed edge blocks and the
    // only per-round exchange is the O(nodes) groupBy.
    val bcastLabels = nNodes <= broadcastNodeLimit
    def maybeBcast(df: DataFrame): DataFrame =
      if (bcastLabels) broadcast(df) else df
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor propagation: s inherits t's label
      val prop = edges.join(maybeBcast(labels), edges("t") === labels("id"))
        .select(edges("s").as("id"), col("label"))
      // pointer doubling: id inherits its label's label (labels cover every
      // node appearing in edges, and every label IS a node id, so the inner
      // self-join is total)
      val ptr = labels.select(col("id").as("_pid"), col("label").as("_plabel"))
      val jump = labels.join(maybeBcast(ptr), labels("label") === col("_pid"))
        .select(labels("id"), col("_plabel").as("label"))
      val prev = labels
      // The explicit repartition (vs letting the aggregate insert its own
      // exchange at session width) pins the node exchange to the derived
      // width and keeps the new frontier hash(id, nP) — co-partitioned
      // with the edge checkpoint for the next round. Map-side combine
      // loses nothing: an id occurs once per union BRANCH, i.e. in three
      // different partitions, which partial aggregation cannot merge.
      val next = labels.union(prop).union(jump)
        .repartition(nP, col("id"))
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(false) // lazy: the sum probe below materializes it
      labels = next
      val (s, _) = labelProbe(next) // ONE job per round: checkpoint + probe
      prev.unpersist()
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"resolveClusters: min-label propagation did not converge in $maxIter " +
          "rounds — components with diameter > maxIter are split into " +
          "multiple cluster_ids; raise maxIter for deep chain graphs")
    // p/edges are localCheckpoints now — their blocks are reclaimed by the
    // ContextCleaner once the datasets are unreachable; nothing to unpersist
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    } finally spark.conf.set(aqeKey, aqePrev)
    }
  }

  /** Serializes the AQE-off propagation loops — see resolveClusters. */
  // Shared with every AQE-toggling iterative loop in the package (e.g.
  // GraphRank.pageRank): overlapping loops must serialize on ONE lock or
  // the first finisher's restore re-enables AQE mid-loop for the other.
  private[operators] val aqeLoopLock = new Object

  /** Driver union-find over a materialized (s, t) pair frame that fits in
    * driver memory. Path-halving + union-by-size; the per-component min-id
    * label is computed in Spark (one tiny shuffle) so the id type stays
    * generic — the caller's doc_id type is preserved exactly as in the
    * distributed path. */
  private def resolveClustersLocal(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", p.schema("s").dataType),
      org.apache.spark.sql.types.StructField("_root",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val rows = p.collect()
    p.unpersist()
    val index = new java.util.HashMap[Any, Integer](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Any](rows.length)
    var parent = new Array[Int](math.max(16, rows.length))
    var size = new Array[Int](parent.length)
    def intern(v: Any): Int = {
      val seen = index.get(v)
      if (seen != null) seen.intValue()
      else {
        val i = ids.length
        ids += v
        if (i >= parent.length) {
          parent = java.util.Arrays.copyOf(parent, parent.length * 2)
          size = java.util.Arrays.copyOf(size, size.length * 2)
        }
        parent(i) = i; size(i) = 1
        index.put(v, Integer.valueOf(i))
        i
      }
    }
    def find(x0: Int): Int = { // path halving: no recursion, amortized α(n)
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = find(intern(r.get(0)))
        val b = find(intern(r.get(1)))
        if (a != b) {
          if (size(a) >= size(b)) { parent(b) = a; size(a) += size(b) }
          else { parent(a) = b; size(b) += size(a) }
        }
      }
    }
    val out = ids.indices.map { i =>
      org.apache.spark.sql.Row(ids(i), find(i))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(out,
        math.max(1, out.length / 500000)), outSchema)
    // per-component min id in Spark: keeps the label comparison identical to
    // the distributed path's least()/min() for any id type
    val mins = df.groupBy(col("_root"))
      .agg(min(col("doc_id")).as("cluster_id"))
    df.join(mins, "_root").select(col("doc_id"), col("cluster_id"))
  }

  /**
   * Duplicated-span detection — exact substring dedup at n-token
   * granularity (the distributed shape of the suffix-array method of
   * "Deduplicating Training Data Makes Language Models Better", Lee et
   * al. 2022): every window of `n` consecutive tokens is fingerprinted;
   * a span whose fingerprint occurs more than once in the corpus (across
   * docs OR repeated within one doc) is a duplicated span. Emits one row
   * per document: (id, n_spans, n_dup_spans, dup_span_frac) — filter or
   * trim on `dup_span_frac` downstream.
   *
   * Scale design: the per-position explode is inherent to substring-level
   * dedup (the suffix-array approach also materializes every position);
   * the exchange carries (8-byte xxhash64, id) — never the span text — and
   * the occurrence count partial-aggregates map-side. The >1-occurrence
   * table is a small fraction of the corpus and joins back hash-to-hash.
   * Span fingerprints come from the native codegen'd `graft_ngram_hashes`
   * (one tight loop per doc); memory per row stays O(n) because spans are
   * hashed the moment they're formed.
   */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 12): DataFrame = {
    // Native codegen'd span fingerprints: one tight loop per doc, 8-byte
    // hashes (not gram strings) through the explode and the exchange.
    val grams = GraftFunctions.ngramHashes(col(textCol), n, distinct = false)
    val base = df.select(col(idCol).as("id"), size(grams).as("n_spans"))
    val hashed = df.select(col(idCol).as("id"), explode(grams).as("h"))
    val dupOcc = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("_occ")).filter(col("_occ") > 1)
    val dupPerDoc = hashed.join(dupOcc, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup_spans"))
    base.join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .otherwise(lit(0.0)))
  }

  /**
   * Span-occurrence store for INCREMENTAL duplicated-span screening:
   * one row per distinct n-token span fingerprint with its corpus
   * occurrence count — `(h, occ)`. Occurrence counts are exactly
   * mergeable integer sums, so the store is a SUFFICIENT STATISTIC for
   * [[duplicatedSpans]]' per-doc dup accounting (the [[graft.operators.
   * Relevance.bm25IndexAppend]] contrast class, not the frozen-model
   * cosine/minhash class): append ≡ rebuild exactly, nothing in it can
   * drift, and no ledger is needed.
   *
   * Size is O(distinct spans) ≈ corpus token count × 16 bytes — the
   * cost structure substring-level dedup inherently carries (the
   * suffix-array method materializes every position too). At scale,
   * persist it partitioned/bucketed by `h`; the incremental screen
   * probes it with a BROADCAST of the batch's hash set, so the store
   * scans map-side and never shuffles per ingest.
   */
  def spanStore(df: DataFrame, idCol: String, textCol: String,
                n: Int = 12): DataFrame = {
    val grams = GraftFunctions.ngramHashes(col(textCol), n, distinct = false)
    df.select(explode(grams).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("occ"))
  }

  /** Merged span store over `store ∪ spanStore(incoming)` — counts sum
    * per hash. Exact by construction (integer sums commute), pinned by
    * the append ≡ rebuild spec. For a persisted store, prefer
    * [[spanStoreDelta]] + an upsert of only the touched rows. */
  def spanStoreAppend(store: DataFrame, incoming: DataFrame,
                      idCol: String, textCol: String,
                      n: Int = 12): DataFrame =
    store.unionByName(spanStore(incoming, idCol, textCol, n))
      .groupBy(col("h")).agg(sum(col("occ")).as("occ"))

  /** The rows of [[spanStoreAppend]] that CHANGED: merged `(h, occ)` for
    * exactly the batch's hashes (new hashes appear with their batch
    * count; already-seen hashes appear with the summed count). An
    * O(batch)-sized upsert set for a persisted store — the store side is
    * probed map-side via a broadcast of the batch hash set and never
    * shuffles. */
  def spanStoreDelta(store: DataFrame, incoming: DataFrame,
                     idCol: String, textCol: String,
                     n: Int = 12): DataFrame = {
    val batch = spanStore(incoming, idCol, textCol, n)
      .withColumnRenamed("occ", "occ_b")
    val hits = store.join(broadcast(batch.select(col("h"))), "h")
    batch.join(hits, Seq("h"), "left")
      .select(col("h"),
        (col("occ_b") + coalesce(col("occ"), lit(0L))).as("occ"))
  }

  /**
   * Incremental duplicated-span screen: [[duplicatedSpans]] for an
   * ingest batch against a corpus represented ONLY by its span store —
   * a span is duplicated iff its occurrence count over corpus ∪ batch
   * exceeds one, i.e. `occ_store(h) + occ_batch(h) > 1`. Because the
   * store is a sufficient statistic, the contract is EXACT equality
   * (spec- and oracle-pinned): output ≡ `duplicatedSpans(corpus ∪
   * incoming)` restricted to incoming ids — a pipeline screens each
   * ingest batch for cross-corpus AND intra-batch substring duplication
   * without ever re-fingerprinting the corpus.
   *
   * Plan shape at 100 TB: the batch's postings aggregate batch-side
   * (one ingest-bounded exchange); the corpus-sized store is probed
   * MAP-SIDE via a broadcast of the batch's distinct hash set (the
   * [[minhashLshPairsIncremental]] fail-loud bound: a batch whose hash
   * set outgrows the broadcast limit should be split, not silently
   * shuffle the store); matched store counts come back batch-sized and
   * the dup verdict joins per-doc postings against the batch-bounded
   * dup-hash set.
   */
  def duplicatedSpansIncremental(incoming: DataFrame, store: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int = 12): DataFrame =
    spansScreen(incoming, idCol, textCol, n, batchHashes =>
      store.join(broadcast(batchHashes), "h")
        .select(col("h"), col("occ").as("occ_s")))

  /**
   * Per-document span store — `(id, h, cnt)`: the same sufficient
   * statistic as [[spanStore]] (which is exactly its `groupBy(h)` sum),
   * keyed by document so a persisted `VersionedTable` upsert on
   * `(id, h)` is IDEMPOTENT — the property the streaming ingest driver
   * ([[graft.streaming.StreamPipeline.spanIngestStream]]) needs under
   * at-least-once foreachBatch delivery, where a `(h, occ)` count merge
   * would double on replay. Costs one id column over the aggregate
   * form (most spans are corpus-unique, so row counts are comparable)
   * and buys per-document deletion for free.
   */
  def spanStorePerDoc(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 12): DataFrame = {
    val grams = GraftFunctions.ngramHashes(col(textCol), n, distinct = false)
    df.select(col(idCol).as("id"), explode(grams).as("h"))
      .groupBy(col("id"), col("h")).agg(count(lit(1)).as("cnt"))
  }

  /**
   * [[duplicatedSpansIncremental]] over a PER-DOC store — same output,
   * same probe shape (store scans map-side against the broadcast batch
   * hash set; matched rows come back batch-bounded before the `occ_s`
   * sum). Store rows whose `id` is in the batch are EXCLUDED from the
   * probe: a re-delivered micro-batch whose upserts already committed
   * re-screens against exactly the pre-batch store, so replay decisions
   * are IDENTICAL, not merely state-convergent (the stronger form of
   * [[graft.streaming.StreamPipeline.minhashIngestStream]]'s replay
   * argument, available here only because the store is id-keyed).
   */
  def duplicatedSpansIncrementalPerDoc(incoming: DataFrame,
                                       store: DataFrame,
                                       idCol: String, textCol: String,
                                       n: Int = 12): DataFrame = {
    val batchIds = incoming.select(col(idCol).as("id")).distinct()
    spansScreen(incoming, idCol, textCol, n, batchHashes =>
      store.join(broadcast(batchHashes), "h")
        .join(broadcast(batchIds), Seq("id"), "left_anti")
        .groupBy(col("h")).agg(sum(col("cnt")).as("occ_s")))
  }

  /** Shared screen body: `storeOcc(batchHashes)` supplies the corpus
    * side's `(h, occ_s)` for the batch's distinct hashes. */
  private def spansScreen(incoming: DataFrame, idCol: String,
                          textCol: String, n: Int,
                          storeOcc: DataFrame => DataFrame): DataFrame = {
    val grams = GraftFunctions.ngramHashes(col(textCol), n, distinct = false)
    val base = incoming.select(col(idCol).as("id"), size(grams).as("n_spans"))
    val hashed = incoming.select(col(idCol).as("id"), explode(grams).as("h"))
    val batchOcc = hashed.groupBy(col("h")).agg(count(lit(1)).as("occ_b"))
    val storeHits = storeOcc(batchOcc.select(col("h")))
    val dupHashes = batchOcc.join(storeHits, Seq("h"), "left")
      .filter(col("occ_b") + coalesce(col("occ_s"), lit(0L)) > 1)
      .select(col("h"))
    val dupPerDoc = hashed.join(broadcast(dupHashes), "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup_spans"))
    base.join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .otherwise(lit(0.0)))
  }

  /**
   * Asymmetric k-shingle CONTAINMENT pairs — the doc-inside-doc relation
   * symmetric Jaccard cannot see: a short document quoted whole inside a
   * long one has Jaccard |A|/|B| (→ 0 as B grows) but containment
   * C(A→B) = |S_A ∩ S_B| / |S_A| = 1. Emits every ORDERED pair with
   * C(contained → container) ≥ `tau` over word k-shingle sets (the
   * training-data use: drop the contained side, keep the superset doc —
   * boilerplate-wrapped articles, quote-inflated posts, partial crawls).
   *
   * Candidate generation needs no blocking column: the inverted shingle
   * index IS the blocker. Shape at scale — one map-side pass builds each
   * doc's distinct shingle-hash set ([[shingleHashes]]: 8-byte hashes,
   * no gram strings); the pair scan then runs DEDUP-THEN-EXPAND (the
   * duplicate-amplification discipline [[editDistancePairs]] set):
   * containment depends only on the shingle SETS, so docs are first
   * collapsed to one representative per distinct (sorted) set, postings
   * `(shingle, rid, n_sh)` explode from the representatives only, one
   * shuffle on the shingle hash joins those postings against themselves,
   * and the `(contained, container)` count aggregate runs at set level
   * before surviving pairs expand back over group members (identical-set
   * groups pair internally at `n_kept / n_sh` — 1.0 uncapped). Without
   * the collapse, pair volume is Σ_g df(g)² over MEMBER document
   * frequencies, and a duplicate-heavy corpus (the exact thing a dedup
   * operator is pointed at) amplifies every df by its copy count —
   * measured 39× time for 10× data on a 10×-replica corpus; collapsed,
   * the scan is Σ df² over DISTINCT sets plus output-sized expansion.
   * The `maxDf` cap bounds the remaining sum by dropping postings of
   * shingles seen in more than `maxDf` docs — MEMBER-level df, i.e. the
   * group-size-weighted representative count, so capping is unchanged by
   * the collapse (stop-shingles: boilerplate phrases carry no
   * containment evidence but dominate df²). The cap prunes EVIDENCE,
   * not candidates' denominators: `n_sh` stays the full set size, so
   * capped containment is a deterministic LOWER BOUND on true
   * containment (a pair can drop below tau, never rise above it) — and
   * both regimes stay exactly oracle-checkable in SQL.
   *
   * Docs with fewer than `minShingles` shingles (shorter than k tokens,
   * or below the floor) are excluded from both sides — containment over
   * a near-empty set is noise (everything "contains" the empty doc).
   * Values equal string-shingle containment up to 64-bit collisions
   * (the [[jaccardPairs]] precedent).
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, tau: Double = 0.5,
                       minShingles: Int = 1, maxDf: Long = 0L): DataFrame = {
    require(tau > 0.0, "containment tau must be positive (tau <= 0 keeps every colliding pair)")
    // Spread the shingle-hash computation when the source scan is
    // under-partitioned (r16, guide §2.5 input skew): a small parquet
    // file is ONE scan partition, and the tokenize+hash pass — the
    // operator's dominant CPU — then runs on one core (measured: 3×
    // ~3 s single-task stages in a 6 s query at sf0.1). The repartition
    // moves raw text once, only when the scan has fewer partitions than
    // the session width — at corpus scale the scan is already wide and
    // no exchange is added.
    val nW = df.sparkSession.sessionState.conf.numShufflePartitions
    val src0 = df.select(col(idCol).as("id"), col(textCol).as("_t"))
    val src = if (!src0.isStreaming && src0.rdd.getNumPartitions < nW)
      src0.repartition(nW, col("id")) else src0
    val base = src
      .select(col("id"), shingleHashes(col("_t"), k).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
      .filter(col("n_sh") >= math.max(minShingles, 1).toLong)
    // collapse to one representative per distinct shingle SET (sorted —
    // shingleHashes preserves encounter order); the window attaches the
    // member → representative mapping without a second array join. The
    // window keys on a 128-bit FINGERPRINT of the sorted set (xxhash64
    // over the array AND over the array with a salt element prepended —
    // two independently-seeded views), not the set itself, so the
    // collapse exchange carries the array once (in the row) instead of
    // twice (key AND value). 128 bits, not 64: a collapse-key collision
    // would silently merge two UNRELATED documents into one
    // "identical-set" group and emit unverified false containment
    // pairs, and the 64-bit birthday bound (~n²/2⁶⁵) turns material at
    // billions of distinct docs (ADVICE r12); at 128 bits it never
    // does. Salted, not reversed (ADVICE r13): a palindromic sorted
    // array equals its own reverse (single-shingle docs), collapsing
    // that subclass back to 64 effective bits. The key is materialized
    // as a column, not an inline partition expression — the rid and grp
    // windows would otherwise each mint their own projection of it and
    // re-exchange between them (a full second corpus shuffle; the r13
    // cosinePairs pin find).
    val withFp = base.withColumn("_fp",
      struct(xxhash64(sort_array(col("sh"))).as("h1"),
        xxhash64(lit(1L), sort_array(col("sh"))).as("h2")))
    val w = Window.partitionBy(col("_fp"))
    // Lazy localCheckpoint (r16): withRep feeds the representative side,
    // the hot-shingle cap, AND both member-expansion joins — without
    // the checkpoint each consumer re-runs the scan + shingle-hash +
    // collapse window as its own subtree (measured: three ~3 s
    // duplicate stages at sf0.1; exchange reuse can't fire because
    // column pruning gives each subtree a different ReadSchema). The
    // checkpointed frame is signature-sized (hashes, never text) —
    // the same corpus-state footprint the persisted minhash/simhash
    // stores already accept. Lazy, so the first consumer materializes
    // it in its own job instead of paying a dedicated barrier.
    val withRep = withFp
      .withColumn("rid", min(col("id")).over(w))
      .withColumn("grp", count(lit(1)).over(w))
      .drop("_fp")
      .localCheckpoint(false)
    val reps = withRep.filter(col("id") === col("rid"))
      .select(col("rid"), col("sh"), col("n_sh"), col("grp"))
    val posts = reps.select(col("rid"), col("n_sh"), col("grp"),
      explode(col("sh")).as("s"))
    val kept =
      if (maxDf > 0L) {
        // member-level df = group-size-weighted representative count, so
        // the cap binds exactly as it would uncollapsed. Stop-shingle set
        // is bounded by total-postings / maxDf; the anti-join is left
        // un-hinted so the planner can pick broadcast when stats allow.
        val hot = posts.groupBy(col("s")).agg(sum(col("grp")).as("_df"))
          .filter(col("_df") > maxDf).select(col("s"))
        posts.join(hot, Seq("s"), "left_anti")
      } else posts
    // Pin the posting self-join's width (r16, guide §2.5): the postings
    // exchange is hash-sized (a few MB here), so AQE folds it to 1-2
    // partitions and the Σ df² pair scan + partial count — the
    // operator's quadratic heart — runs nearly serial. One pinned
    // exchange, reused by BOTH self-join sides (same child plan).
    val keptW = kept.repartition(nW, col("s"))
    val a = keptW.alias("a")
    val b = keptW.alias("b")
    val repPairs = a
      .join(b, col("a.s") === col("b.s") && col("a.rid") =!= col("b.rid"))
      .groupBy(col("a.rid").as("ra"), col("b.rid").as("rb"),
        col("a.n_sh").as("n_sh"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap").cast("double") >= lit(tau) * col("n_sh").cast("double"))
      .select(col("ra"), col("rb"),
        round(col("overlap").cast("double") / col("n_sh").cast("double"), 6)
          .as("containment"))
    val members = withRep.select(col("id"), col("rid"))
    val cross = repPairs
      .join(members.as("ma"), col("ma.rid") === col("ra"))
      .join(members.as("mb"), col("mb.rid") === col("rb"))
      .select(col("ma.id").as("contained_id"), col("mb.id").as("container_id"),
        col("containment"))
    // identical-set groups pair internally: overlap is the group's KEPT
    // shingle count (its whole set uncapped), exactly what the
    // uncollapsed join would have counted for two equal sets
    val intra = kept.groupBy(col("rid"), col("n_sh"), col("grp"))
      .agg(count(lit(1)).as("n_kept"))
      .filter(col("grp") >= 2L &&
        col("n_kept").cast("double") >= lit(tau) * col("n_sh").cast("double"))
      .select(col("rid").as("irid"),
        round(col("n_kept").cast("double") / col("n_sh").cast("double"), 6)
          .as("containment"))
    val intraPairs = intra
      .join(members.as("ma"), col("ma.rid") === col("irid"))
      .join(members.as("mb"), col("mb.rid") === col("irid"))
      .filter(col("ma.id") =!= col("mb.id"))
      .select(col("ma.id").as("contained_id"), col("mb.id").as("container_id"),
        col("containment"))
    cross.unionByName(intraPairs)
  }

  /**
   * n-gram (word-set) Jaccard similarity pairs within a blocking key (e.g.
   * source) — the quadratic fallback, kept shuffle-safe by requiring a
   * blocking column so the cross product never leaves a group.
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, tau: Double): DataFrame = {
    // Token sets hashed to sorted long arrays once per doc; each pair costs
    // one merge walk (native codegen'd expression) instead of interpreted
    // array_intersect/array_union set ops. Value equals string-set Jaccard
    // up to 64-bit collisions.
    val t = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      sort_array(array_distinct(
        transform(split(col(textCol), " "), tok => xxhash64(tok)))).as("th"))
    val a = t.alias("a")
    val b = t.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("jaccard",
        GraftFunctions.jaccardSorted(col("a.th"), col("b.th")))
      .filter(col("jaccard") >= tau)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jaccard"))
  }

  /**
   * Edit-distance (Levenshtein) similarity pairs within a blocking key —
   * the ENTITY-FIELD fuzzy join (names, titles, codes: short strings
   * where "one typo apart" is the right notion of near-duplicate, which
   * set-based Jaccard can't see). Same quadratic-fallback contract as
   * [[jaccardPairs]]: a blocking column is REQUIRED so the pair scan
   * never leaves a group, and two pre-filters run before the O(len²)
   * distance — a length band (|len(a) − len(b)| ≤ maxDist is a lower
   * bound on edit distance, a pure column predicate the join can
   * evaluate first) and the id order. Levenshtein itself is Spark's
   * codegen'd built-in with unit costs, matching DuckDB's exactly.
   *
   * Parallelism design: a naive self-join on `blk` alone caps the
   * fan-out at the number of distinct blocks (and a broadcast plan
   * inherits the probe scan's partitioning — possibly ONE partition for
   * a small file), while the work is quadratic per block and CPU-heavy
   * per pair. So pairs are enumerated by CHUNK: each row gets a stable
   * chunk `xxhash64(id) mod chunks`, the left side is replicated once
   * per target chunk, and the join key is (blk, target-chunk) — every
   * unordered pair is generated exactly once (the left row matches the
   * right row's chunk; `id <` orders it), and parallelism becomes
   * blocks × chunks instead of blocks. BOTH sides are explicitly
   * repartitioned on their join key: that spreads the quadratic loop
   * across the cluster even when a broadcast plan would otherwise
   * inherit a small file's single scan partition on the probe side, and
   * it is exactly the exchange a sort-merge plan needs at scale, so it
   * is never a wasted shuffle. Replication only ever copies (id, blk,
   * string, chunk) — short entity fields by contract, never bodies.
   * The distance predicate uses the THRESHOLD form of levenshtein
   * (banded O(maxDist·len) dynamic program, −1 when the band is
   * exceeded) rather than the full O(len²) table.
   *
   * `maxDist ≤ 2` (the common typo radii) escapes the per-block
   * quadratic entirely (r11): candidates come from DELETION-
   * NEIGHBORHOOD blocking — the symmetric-delete construction behind
   * SymSpell-style spell indexes. Each string emits every variant
   * reachable by deleting up to `maxDist` characters (itself included);
   * any pair within edit distance d shares such a variant (align the
   * ≤ d edit operations: each substitution deletes its position from
   * both sides, each insertion/deletion deletes one character from one
   * side — the aligned common string is a ≤ d-deletion variant of
   * each), so grouping on (block, variant) generates a complete
   * candidate set and the banded levenshtein verifies exactly. Cost
   * becomes Σ bucket² over near-identical-string buckets (plus an
   * explode of ~len^maxDist short variants per entity field) instead
   * of Σ block² — the sf1 registry sweep measured the gate binding's
   * nationkey blocking at O(n²/25): 308 s at 10× data, where this path
   * is linear-shaped. Output is IDENTICAL either way (spec-pinned
   * against a brute-force reference at both radii); corpora dominated
   * by one identical string still pay that string's quadratic OUTPUT
   * (every pair qualifies at dist 0) — exact-dedup first when that is
   * not wanted. `maxDist ≥ 3` keeps the chunked block scan
   * (multi-deletion neighborhoods grow combinatorially; the block
   * contract is the right tool there).
   */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        blockCol: String, maxDist: Int,
                        chunks: Int = 16): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    require(chunks >= 1, s"chunks must be positive, got $chunks")
    if (maxDist <= 2)
      return editDistancePairsNeighborhood(df, idCol, strCol, blockCol,
        maxDist)
    val t = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(strCol).as("s"), length(col(strCol)).as("len"),
      pmod(xxhash64(col(idCol)), lit(chunks)).cast("int").as("ch"))
    // Explicit partition COUNT (not just columns): the pair scan is
    // CPU-bound on kilobytes of input, and AQE's size-based coalescing
    // would fold a byte-tiny exchange back to one partition — pinning
    // the count keeps the fan-out (REPARTITION_BY_NUM is exempt).
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val a = t.withColumn("cr", explode(sequence(lit(0), lit(chunks - 1))))
      .repartition(n, col("blk"), col("cr"))
      .alias("a")
    val b = t.repartition(n, col("blk"), col("ch")).alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.cr") === col("b.ch")
        && col("a.id") < col("b.id")
        && abs(col("a.len") - col("b.len")) <= maxDist)
      .withColumn("dist", levenshtein(col("a.s"), col("b.s"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("dist").cast("long").as("dist"))
  }

  /** Bucket-size boundary between the two neighborhood pair regimes: at
    * or below it, a bucket's pairs come from the in-expression
    * combination walk (one array, ≤ cap²/2 ≈ 32k structs per row);
    * above it, from the streamed self-join. 256 members is far above
    * any near-identical-string bucket a real entity corpus produces and
    * far below the array size that threatens an executor. */
  private[operators] val neighborhoodBucketCap = 256

  /** The deletion-neighborhood candidate path of [[editDistancePairs]]
    * for `maxDist ≤ 2` — see its scaladoc for the completeness argument.
    * (`chunks` does not apply here: it parallelizes the ≥ 3 block scan;
    * this path's fan-out is the (blk, variant) hash itself, and its
    * degenerate-bucket hazard is closed by [[neighborhoodBucketCap]],
    * not by chunking.)
    * At maxDist = 0 the variant set degenerates to the string itself (no
    * cross-string candidates at all); at 2, the two-deletion variants
    * come from deleting once more from each one-deletion variant (covers
    * every unordered position pair, duplicates folded by the in-place
    * distinct).
    *
    * Dedup-then-expand (r11): the variant join runs over DISTINCT
    * (block, string) values only, and member pairs are expanded back
    * afterwards — identical strings pair at distance 0 via a plain
    * equality self-join, cross-string pairs inherit the distance of
    * their string pair. Without this, a duplicate group of g members
    * amplifies the candidate join by g² × variants-per-string (measured
    * at the sf1 replica, where every name has ~10 exact copies: ~172
    * radius-2 variants × 100 member pairs per name — a 2.6B-row
    * intermediate; deduped, the variant join is Σ distinct-bucket² and
    * the member expansion is sized by the true output). No broadcast
    * hints: the distinct-pair and member sides both scale with the
    * corpus by contract, so the planner's size-based choice stands. */
  private[graft] def editDistancePairsNeighborhood(
      df: DataFrame, idCol: String, strCol: String, blockCol: String,
      maxDist: Int,
      bucketCap: Int = neighborhoodBucketCap): DataFrame = {
    val members = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(strCol).as("s"))
    // identical strings: every member pair, distance 0
    val m1 = members.select(col("blk"), col("s"), col("id").as("ia"))
    val m2 = members.select(col("blk"), col("s"), col("id").as("ib"))
    val intra = m1.join(m2, Seq("blk", "s")).filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), lit(0L).as("dist"))
    if (maxDist == 0) return intra
    // distinct strings per block; rep = any stable order for the a<b cut.
    // r16 optimization note: a pinned-width repartition before the
    // variant explode was TRIED (AQE folds the byte-tiny distinct-string
    // exchange to one partition, leaving the ~len^maxDist explode on one
    // task — a 4.2 s single-task stage at sf0.1) and MEASURED WALL-
    // NEUTRAL: the explode stage fell 4.2 → 2.1 s but the allocation
    // storm of 32 concurrent variant-string streams shifted the cost
    // into GC (24.8 s of GC across the stage's tasks on the 4 GB bench
    // heap) and the downstream pair-walk stage slowed by the same
    // amount. Reverted: locally neutral, and at corpus scale the
    // distinct-string frame is large enough that the extra exchange is
    // pure cost. The allocation-free variant hasher is the real lever
    // (see OPTIMIZATION_r16.md "Not yet optimized").
    val reps = members.groupBy(col("blk"), col("s"))
      .agg(min(col("id")).as("rep"))
    // Candidate generation is ONE shuffle onto (blk, variant-hash) —
    // variants as xxhash64 (a collision only ADDS a candidate; the
    // verify filters it — no true pair can be lost, equal variants
    // always hash equal) — with within-bucket pairs emitted by an
    // in-expression combination walk and levenshtein-verified MAP-SIDE
    // right off the explode. A true pair shares ~variants-per-string
    // candidates (~170 at radius 2); generated this way the amplified
    // stream costs re-evaluations of the banded levenshtein, never a
    // shuffle row — only the ~output-sized survivors reach the dedup.
    //
    // The variant hashes come from the native codegen'd
    // `graft_deletion_hashes` (r17): the declarative form (delOnce via
    // transform/concat/substr + array_distinct + xxhash64-per-row)
    // materialized ~len^maxDist variant STRINGS per distinct name
    // through interpreted higher-order lambdas — profiled as the
    // operator's dominant allocation churn (the r16 width-pin attempt
    // moved that cost into GC instead of removing it; see the note
    // above). The expression emits the identical xxhash64(seed 42)
    // values straight off a reusable byte buffer — bucket membership
    // is bit-identical, only the allocation profile changes.
    // (A degenerate block of very short strings can still bucket
    // together on a shared tiny variant — Σ bucket² is the operator's
    // inherent candidate cost in any formulation.)
    //
    // Two bucket regimes (ADVICE r11): the pair walk materializes a
    // bucket's full O(bucket²) pair-struct array in ONE row before the
    // explode — fine at the typical near-identical-string bucket size,
    // fatal when a degenerate bucket is huge (every 1-2-char string
    // reaches "" at radius ≥ 1), where a single row would hold billions
    // of structs. A window count over the SAME (blk, v) partitioning
    // (no extra exchange) sizes each bucket first; buckets above
    // [[neighborhoodBucketCap]] members stream their pairs through a
    // co-partitioned self-join instead — identical pairs, identical
    // struct-order orientation, one pair per ROW instead of per array
    // slot. Both regimes verify map-side before the dedup shuffle.
    val t = reps.select(col("blk"), col("rep"), col("s"),
        explode(GraftFunctions.deletionHashes(col("s"), maxDist)).as("v"))
      .select(col("blk"), col("v"),
        struct(col("rep"), col("s")).as("m"))
    val wbv = Window.partitionBy(col("blk"), col("v"))
    val tc = t.withColumn("bs", count(lit(1)).over(wbv))
      .filter(col("bs") > 1)
    val buckets = tc.filter(col("bs") <= bucketCap)
      .groupBy(col("blk"), col("v"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
    val smallPairs = buckets.select(col("blk"),
        explode(flatten(transform(
          sequence(lit(1), size(col("ms")) - 1),
          i => transform(slice(col("ms"), i + 1, size(col("ms")) - i),
            m2 => struct(
              element_at(col("ms"), i).getField("rep").as("ra"),
              element_at(col("ms"), i).getField("s").as("sa"),
              m2.getField("rep").as("rb"),
              m2.getField("s").as("sb")))))).as("pr"))
      .select(col("blk"), col("pr.ra").as("ra"), col("pr.sa").as("sa"),
        col("pr.rb").as("rb"), col("pr.sb").as("sb"))
    val tBig = tc.filter(col("bs") > bucketCap)
      .select(col("blk"), col("v"), col("m"))
    val bigPairs = tBig.alias("x")
      .join(tBig.alias("y"), col("x.blk") === col("y.blk")
        && col("x.v") === col("y.v") && col("x.m") < col("y.m"))
      .select(col("x.blk").as("blk"),
        col("x.m").getField("rep").as("ra"),
        col("x.m").getField("s").as("sa"),
        col("y.m").getField("rep").as("rb"),
        col("y.m").getField("s").as("sb"))
    val stringPairs = smallPairs.unionByName(bigPairs)
      .withColumn("dist", levenshtein(col("sa"), col("sb"), maxDist))
      .filter(col("dist") >= 0)
      .dropDuplicates("blk", "ra", "rb")
    // expand each surviving string pair over both member groups
    val cross = stringPairs
      .join(members.select(col("blk"), col("s").as("sa"), col("id").as("ia")),
        Seq("blk", "sa"))
      .join(members.select(col("blk"), col("s").as("sb"), col("id").as("ib")),
        Seq("blk", "sb"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col("dist").cast("long").as("dist"))
    cross.unionByName(intra)
  }

  /**
   * Quality-aware keep policy: one survivor per near-dup component,
   * chosen by a SCORE instead of the min id — the form curation
   * pipelines actually run ("keep the longest / highest-quality copy"),
   * where min-id keep ([[resolveClusters]] + anti-join) keeps whichever
   * duplicate happened to be crawled first. Keeper = arg max
   * `scoreCol` within the component, ties broken by min id
   * (deterministic); docs in no pair are their own component and
   * always survive; a doc with a NULL score loses to any scored
   * sibling (nulls-last ordering) and survives only alone or among
   * all-null components (min id then).
   *
   * Scale shape: the component resolution is [[resolveClusters]]
   * (tiered union-find); the keep itself is one window over
   * (component) — rank-1 row per component, no collect, no join
   * beyond attaching the cluster ids. Returns `df`'s full rows,
   * survivors only.
   */
  def keepBestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                         scoreCol: String): DataFrame = {
    val clusters = resolveClusters(pairs)
      .select(col("doc_id").as("_kid"), col("cluster_id").as("_c0"))
    val withC = df
      .join(clusters, col(idCol) === col("_kid"), "left")
      .withColumn("_c", coalesce(col("_c0"), col(idCol)))
    val w = Window.partitionBy(col("_c"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)
    withC.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_kid", "_c0", "_c", "_rn")
  }

  /**
   * Duplicated-span SCRUBBING — the completion of [[duplicatedSpans]]
   * (which only measures): rebuild each document with every token that
   * falls inside a corpus-duplicated n-token span removed — the actual
   * "train on deduplicated text" output of the substring-dedup method
   * (Lee et al. 2022), not just its diagnostics.
   *
   * Scale shape: spans are fingerprinted by the native codegen'd
   * `graft_ngram_hashes` the instant they're formed, so the occurrence
   * count and the cover join both carry (8-byte hash | id, position) —
   * never span text. The rebuild is one groupBy(id) over (token,
   * position) pairs with an in-group sort; token text crosses the wire
   * once, which is inherent to emitting rewritten documents. Duplicate
   * detection is corpus-global (an n-gram repeated within ONE doc counts
   * too, same as [[duplicatedSpans]]).
   *
   * Output: (id, kept_tokens, scrubbed) — one row per input doc; a doc
   * whose every token is covered scrubs to the empty string.
   */
  def scrubSpans(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 12): DataFrame = {
    val grams = GraftFunctions.ngramHashes(col(textCol), n, distinct = false)
    val hashed = df.select(col(idCol).as("id"), posexplode(grams))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "h")
    val dup = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("_occ")).filter(col("_occ") > 1).select(col("h"))
    val covered = hashed.join(dup, "h")
      .select(col("id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("cp"))
      .distinct()
    val toks = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), " ")))
      .withColumnRenamed("pos", "tp").withColumnRenamed("col", "tok")
    val kept = toks.alias("t").join(covered.alias("c"),
      col("t.id") === col("c.id") && col("t.tp") === col("c.cp"), "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          x => x.getField("tok"))).as("scrubbed"))
    df.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
  }
}
