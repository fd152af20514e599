package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * Similarity search over embedding columns (`array<float>`): brute-force
 * cosine top-k as the exact baseline, and an LSH-bucketed (random
 * hyperplane) approximate variant as the scale path.
 *
 * Scale design:
 *  - The query side is tiny relative to the corpus → `broadcast()` it, so
 *    the corpus scan is a single map-only pass with no shuffle of the
 *    corpus; top-k then shuffles only (query × k) candidate rows.
 *  - Dot products and LSH signatures are native codegen'd Catalyst
 *    expressions ([[GraftFunctions.dot]] / [[GraftFunctions.lshBucket]] —
 *    the `zip_with` + `aggregate` HOF forms are CodegenFallback and cost a
 *    boxed lambda per component; `SimilaritySpec` keeps them as the
 *    bit-parity references).
 *    Norms are precomputed per side before the join so each pair costs one
 *    dot.
 *  - The LSH variant buckets by a `planes`-bit random-hyperplane signature
 *    (deterministic plane vectors derived from xxhash64 seeds) and probes
 *    only same-bucket candidates: corpus shuffles once by bucket id.
 */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dot product of two double-array columns — the native codegen'd
    * expression ([[graft.functions.DotProductExpr]]; the `zip_with` +
    * `aggregate` form is CodegenFallback, one boxed lambda per component,
    * and the scored join evaluates it |queries| × |corpus| times). A plain
    * column: usable in any session, nothing registered. */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /**
   * Exact top-k neighbors for a query subset. `queryPred` selects the query
   * rows (e.g. `vec_id % 100 === 0`); every query is scored against the full
   * corpus (minus itself) and the k best by cosine kept, ties broken by
   * neighbor id.
   */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame =
    bruteForceTopKWhere(df, idCol, vecCol, queryPred, lit(true), k)

  /** The scored pair set BEFORE the top-k window — shared by
    * [[bruteForceTopKWhere]] and [[mmrRerank]] (which must filter
    * degenerate cosines ahead of the window, ADVICE r15); the
    * unfiltered callers pass `lit(true)`, which `PruneFilters` drops.
    * Ranks use the 6-digit-rounded cosine (with the id tie-break) so the
    * top-k frontier is stable across engines/summation orders — the raw
    * double could flip ranks on last-bit differences. */
  private def bruteForceScored(df: DataFrame, idCol: String, vecCol: String,
                               queryPred: Column,
                               corpusPred: Column): DataFrame = {
    val q = prepVecs(df, idCol, vecCol).filter(queryPred).alias("q")
    val c = prepVecs(df.filter(corpusPred), idCol, vecCol).alias("c")
    c.join(broadcast(q), col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("neighbor_id"),
        aliasCos("q", "c"))
  }

  /** Per-query top-k of scored (query_id, neighbor_id, cos) pairs — the
    * one ranking tail of every top-k search here. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    rankWithin(scored, "query_id", "cos", "neighbor_id", k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn"))

  /** The first `k` rows of each `part` value by (`score` desc, `tie`
    * asc), ranked 1.. in `rn`. */
  private[operators] def rankWithin(df: DataFrame, part: String,
                                    score: String, tie: String,
                                    k: Int): DataFrame = {
    val w = Window.partitionBy(col(part))
      .orderBy(col(score).desc, col(tie).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Global top-`k` by (`score` desc, `tie` asc), ranked in `rn`:
    * TakeOrdered, never a global sort. */
  private[operators] def takeTopK(df: DataFrame, score: String, tie: String,
                                  k: Int): DataFrame = {
    val order = Seq(col(score).desc, col(tie).asc)
    df.orderBy(order: _*).limit(k)
      .withColumn("rn", row_number().over(Window.orderBy(order: _*)))
  }

  /** 6-dp cosine of the `q`/`c`-aliased pair's (v, n) columns. */
  private def aliasCos(q: String, c: String): Column =
    round(dot(col(s"$q.v"), col(s"$c.v")) / (col(s"$q.n") * col(s"$c.n")), 6)
      .as("cos")

  /** 6-dp cosine of a query-side (qv, qn) against a corpus-side (v, n). */
  private def rerankCos: Column =
    round(dot(col("qv"), col("v")) / (col("qn") * col("n")), 6).as("cos")

  /**
   * MMR (maximal marginal relevance, Carbonell & Goldstein SIGIR 1998)
   * diversity rerank over the exact top-`nCandidates` cosine list: the
   * standard retrieval-stack step after top-k — greedily select k
   * results maximizing `λ·cos(query, c) − (1−λ)·max_{s∈selected}
   * cos(c, s)`, so near-duplicate hits (the thing a deduplicated
   * training corpus is FULL of near the query) don't crowd out coverage.
   * The first pick maximizes pure relevance (empty selected set → the
   * penalty term is 0).
   *
   * Scale design: the greedy is inherently sequential in k, so it runs
   * on the BOUNDED MODEL tier — the candidate list (`nCandidates` rows
   * + their vectors) collects to the driver (the decontaminateStream
   * precedent: model parameters may drive to the driver, data never
   * does); everything corpus-sized stays in [[bruteForceTopK]]'s
   * distributed scan. Deterministic: candidate cosines are the
   * oracle-certified round-6 ranks; pairwise similarities and each
   * step's mmr round to 6 with the (mmr desc, doc_id asc) tie-break.
   * The oracle gate pins λ = 0.5 deliberately — 0.5 and 1−0.5 are both
   * exactly representable doubles, so the Spark-side arithmetic and the
   * DuckDB replay agree to the last bit; any λ works operationally, but
   * λ whose complement has no exact binary form (e.g. 0.7 → 0.3…04)
   * would make cross-engine bit-equality float-literal-dependent.
   */
  def mmrRerank(df: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, lambda: Double = 0.5,
                nCandidates: Int = 20, k: Int = 5): DataFrame = {
    require(k > 0 && nCandidates >= k,
      s"mmrRerank needs 0 < k <= nCandidates, got k=$k n=$nCandidates")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = df.sparkSession
    // bounded-model collects: nCandidates (id, cos) rows + their vectors.
    // Non-finite query cosines (NaN embeddings — Spark's descending
    // NaN-high ordering would rank them FIRST) are dropped BEFORE the
    // top-nCandidates window (ADVICE r15: filtering after it let every
    // degenerate doc consume a candidate slot, perturbing the selection
    // whenever nCandidates binds), then re-filtered after collect as a
    // belt against NaN surviving into round6 (ADVICE r14 — BigDecimal
    // (NaN) crashes the driver). A degenerate vector carries no
    // similarity evidence. Zero-NORM vectors never reach here: ANSI mode
    // refuses their 0-divisor cosine inside the scored join, loudly.
    val finite = !isnan(col("cos")) && abs(col("cos")) <= lit(Double.MaxValue)
    val scored = bruteForceScored(df, idCol, vecCol, queryPred, lit(true))
      .filter(finite)
    val cand = rankTopK(scored, nCandidates)
      .select(col("neighbor_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .filter { case (_, cs) => java.lang.Double.isFinite(cs) }
    val ids = cand.map(_._1)
    val vecs = df.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // index-order summation — the exact fold DuckDB's list_dot_product
    // runs, so the round-6 values agree across engines
    def cosSim(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      round6(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining =
      scala.collection.mutable.LinkedHashMap(cand.map(r => r._1 -> r._2): _*)
    // Per-candidate running max-sim, refreshed against the NEWEST
    // selection only (ADVICE r14): max over round-6 cosines is
    // associative, so the fold over selections one at a time yields the
    // same value as recomputing over the whole selected set —
    // O(k·nCandidates) driver cosines instead of O(k²·nCandidates).
    // Seeded at -∞, NOT 0: a candidate whose similarity to every
    // selected doc is NEGATIVE must keep that negative max (it RAISES
    // the mmr score); only the empty-selected first step scores with a
    // zero penalty, exactly like the recomputing form.
    val maxSim = scala.collection.mutable.HashMap.empty[Long, Double]
      .withDefaultValue(Double.NegativeInfinity)
    while (selected.length < math.min(k, cand.length)) {
      selected.lastOption.foreach { case (last, _, _) =>
        remaining.keysIterator.foreach { id =>
          val s = cosSim(vecs(id), vecs(last))
          if (s > maxSim(id)) maxSim(id) = s
        }
      }
      val best = remaining.toSeq.map { case (id, cs) =>
        val ms = if (selected.isEmpty) 0.0 else maxSim(id)
        (id, cs, round6(lambda * cs - (1 - lambda) * ms))
      }.minBy { case (id, _, m) => (-m, id) }
      selected += best
      remaining.remove(best._1); ()
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, cs, m), i) => (id, cs, m, i + 1) }
      .toDF("doc_id", "cos", "mmr", "rn")
  }

  /**
   * Filtered exact top-k: neighbors restricted to corpus rows satisfying
   * `corpusPred` (a predicate over the ORIGINAL `df` columns — e.g. a
   * metadata/label column), queries still drawn from the full table by
   * `queryPred` (over the renamed `id`). The exact baseline for
   * [[ivfTopKWhere]]: pre-filter-then-scan, so the predicate reaches the
   * parquet scan (PushedFilters) and the scored join touches only
   * matching rows — at 10% selectivity the pair volume drops 10× before
   * any vector arithmetic runs.
   */
  def bruteForceTopKWhere(df: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, corpusPred: Column,
                          k: Int): DataFrame =
    rankTopK(bruteForceScored(df, idCol, vecCol, queryPred, corpusPred), k)

  /** `planes`-bit random-hyperplane signature of a double-array column —
    * native codegen'd expression ([[graft.functions.LshBucketExpr]]). */
  def lshSignature(v: Column, planes: Int): Column =
    GraftFunctions.lshBucket(v, planes)

  /**
   * Approximate nearest neighbors via hyperplane-LSH bucketing: corpus and
   * queries are signed with the same planes; candidates = same-bucket pairs;
   * exact cosine re-rank inside the bucket. Recall is tunable by `planes`
   * (fewer planes → bigger buckets → higher recall, more compute).
   */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, planes: Int = 8): DataFrame =
    bucketTopK(df, idCol, vecCol, queryPred, k, lshSignature(_, planes))

  /** The one body of [[lshTopK]] and [[lshTopKPortable]], which differ
    * only in the `bucketOf` signature of the vector `v`. */
  private def bucketTopK(df: DataFrame, idCol: String, vecCol: String,
                         queryPred: Column, k: Int,
                         bucketOf: Column => Column): DataFrame = {
    val base = prepVecs(df, idCol, vecCol)
      .withColumn("bucket", bucketOf(col("v")))
    val q = base.filter(queryPred).alias("q")
    val c = base.alias("c")
    rankTopK(c.join(broadcast(q),
        col("q.bucket") === col("c.bucket") && col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("neighbor_id"),
        aliasCos("q", "c")), k)
  }

  /**
   * Random-projection dimensionality reduction (Johnson–Lindenstrauss):
   * map each vector onto `outDim` deterministic pseudo-random hyperplanes
   * — the cheap embedding shrink for dedup pre-passes, ANN preprocessing,
   * or storage (JL: pairwise distances are preserved within ε for
   * outDim = O(log n / ε²)). Output: (id, rp: array<double>).
   *
   * Scale shape: one codegen'd expression per row
   * ([[graft.functions.RandomProjectExpr]]), map-only — no shuffle, no
   * model state, no broadcast; the planes derive from (plane, dim)
   * hashes, so every executor reproduces them locally at any fan-out.
   * The component stream is [[lshSignature]]'s, so bit p of the LSH
   * bucket equals `rp[p] >= 0` — hyperplane LSH is exactly the 1-bit
   * quantization of this projection (spec-pinned).
   */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       outDim: Int): DataFrame = {
    require(outDim >= 1, s"outDim must be positive, got $outDim")
    df.select(col(idCol).as("id"),
      GraftFunctions.randomProject(
        col(vecCol).cast("array<double>"), outDim).as("rp"))
  }

  /** Engine-portable twin of [[randomProjection]]: md5-derived plane
    * components and an explicit in-order fold (the [[lshTopKPortable]]
    * arithmetic), components rounded to 6 decimals — DuckDB replays the
    * fold with `list_reduce` bit-identically, putting the projection
    * under the exact oracle. The native xxhash64 form is the scale
    * path. */
  def randomProjectionPortable(df: DataFrame, idCol: String, vecCol: String,
                               outDim: Int): DataFrame = {
    require(outDim >= 1, s"outDim must be positive, got $outDim")
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"),
      array((0 until outDim).map(p => round(portableProjection(v, p), 6)): _*)
        .as("rp"))
  }

  /** Projection of `v` onto md5 plane `p` as an explicit in-order fold,
    * so DuckDB's `list_reduce` replays it bit-identically. */
  private def portableProjection(v: Column, p: Int): Column =
    aggregate(
      zip_with(v, sequence(lit(0), size(v) - 1),
        (x, i) => x * planeComponentPortable(p, i)),
      lit(0.0), (acc, x) => acc + x)

  /** Engine-portable plane component: md5-derived pseudo-random in
    * [−1, 1), exact in double (8 hex chars < 2^32 ≤ 2^53). */
  private def planeComponentPortable(plane: Int, dim: Column): Column =
    conv(substring(md5(concat(lit(plane + "#"), dim.cast("string"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0) * 2.0 - 1.0

  /** md5-plane signature over `v`: one sign bit per plane of its
    * [[portableProjection]]. Shared by the portable LSH and near-dup
    * paths. */
  private def portableSignature(v: Column, planes: Int): Column =
    (0 until planes).map { p =>
      when(portableProjection(v, p) >= 0, shiftleft(lit(1L), p))
        .otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /**
   * Engine-portable hyperplane-LSH top-k: identical contract to
   * [[lshTopK]] but the plane components come from md5 (not xxhash64)
   * and the projection is an explicit IN-ORDER fold — the DuckDB oracle
   * replays the same fold with `list_reduce`, so the signs (and hence
   * the buckets) are bit-identical across engines. Puts the hyperplane
   * bucketing itself under the exact oracle; [[lshTopK]] (native
   * codegen'd signature) remains the scale path.
   */
  def lshTopKPortable(df: DataFrame, idCol: String, vecCol: String,
                      queryPred: Column, k: Int, planes: Int = 8): DataFrame =
    bucketTopK(df, idCol, vecCol, queryPred, k, portableSignature(_, planes))

  /**
   * IVF (inverted-file) approximate top-k: the second scale path besides
   * hyperplane LSH. Coarse quantizer = `nCentroids` deterministic sample
   * vectors (lowest ids — seedless and reproducible), collected to the
   * driver ONCE (bounded: ≤ nCentroids rows — the quantizer is a model
   * parameter, not data) and shipped back as literal arrays. Centroid
   * assignment is then a pure map-side argmax expression — zero corpus
   * shuffle — and a query's `nProbe` nearest lists come from the same
   * per-row scored array, sorted and sliced map-side.
   *
   * At 100 TB: assignment is one map-only pass with NO exchange (the r2
   * join+window form shuffled 16× the corpus just to pick an argmax); the
   * probe side (queries × nProbe, tiny) is broadcast into the candidate
   * join, so the corpus never shuffles on the nCentroids-value key either.
   * The only exchange of candidate rows is the final top-k rank by
   * query_id. Recall improves with nProbe and with `trainIters` Lloyd
   * rounds (below); the operator contract (assign → probe → re-rank) is
   * identical either way.
   *
   * Per-query search cost is `nProbe × corpus/nCentroids`, so a FIXED
   * list count degrades linearly as the corpus grows. Pass
   * `nCentroids = -1` to auto-size: clamp(⌈√corpus⌉, 16, 256) — the
   * classical √n rule, one extra count() job, capped where the
   * literal-quantizer codegen stays comfortable (beyond ~65k rows per
   * list budget, the IVF-PQ compressed index is the intended path).
   */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              trainIters: Int = 0): DataFrame =
    ivfTopKWhere(df, idCol, vecCol, queryPred, lit(true), k, nCentroids,
      nProbe, trainIters)

  /**
   * Filtered IVF top-k: [[ivfTopK]] with neighbors restricted to corpus
   * rows satisfying `corpusPred` (over the ORIGINAL `df` columns) — the
   * shared-index + in-scan-filter design every production filtered-ANN
   * serves from:
   *
   *  - the quantizer trains on the FULL corpus (the index is built once
   *    and shared across predicates — per-predicate re-indexing does not
   *    exist at 100 TB), so results match a pre-built index queried with
   *    a filter;
   *  - the predicate applies to the corpus scan BEFORE assignment and the
   *    candidate join — it pushes down to the parquet scan, so only
   *    matching rows are assigned, joined, or scored (filter-THEN-probe,
   *    not probe-then-discard);
   *  - recall under a selective predicate is the standard filtered-ANN
   *    trade: probed cells hold ~selectivity × cell-size matching rows,
   *    so scale `nProbe` by ~1/selectivity (or use
   *    [[bruteForceTopKWhere]] below ~1% selectivity, where scanning the
   *    filtered subset outright is cheaper than probing most of the
   *    index).
   */
  def ivfTopKWhere(df: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, corpusPred: Column, k: Int,
                   nCentroids: Int = 16, nProbe: Int = 4,
                   trainIters: Int = 0): DataFrame = {
    val base = prepVecs(df, idCol, vecCol)
    val cents = trainCentroids(base, resolveNCentroids(base, nCentroids), trainIters)
    if (cents.isEmpty) return emptyTopK(base) // empty corpus: no quantizer
    val assigned = prepVecs(df.filter(corpusPred), idCol, vecCol)
      .withColumn("cid",
        -array_max(centScoresFor(cents)(col("v"), col("n"))).getField("negcid"))
    val probes = probeCells(base.filter(queryPred), cents, nProbe)
      .select(col("id").as("query_id"), col("cid"),
        col("v").as("qv"), col("n").as("qn"))
    // Candidate (query, neighbor) pairs are structurally unique — each
    // corpus row has exactly one cid and a query's probe cids are distinct —
    // so no dropDuplicates pass (and its exchange) is needed.
    rankTopK(assigned.join(broadcast(probes), "cid")
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), rerankCos), k)
  }

  /** `queries`' (id, v, n) rows exploded over their `nProbe` nearest
    * cells (`cid`) — the probe side of every IVF search. */
  private def probeCells(queries: DataFrame,
                         cents: Array[(Long, Seq[Double], Double)],
                         nProbe: Int): DataFrame =
    queries.withColumn("c",
        explode(slice(sort_array(centScoresFor(cents)(col("v"), col("n")),
          asc = false), 1, nProbe)))
      .withColumn("cid", -col("c.negcid"))

  /** `nCentroids = -1` auto-sizing: the √n rule, clamped to
    * [16, maxCells]. One count() job — only paid in auto mode; an
    * explicit positive value passes through untouched. The IVF query
    * paths keep the historical 256 cap (their PROBE side scores every
    * centroid through the literal expression, whose plan cost scales
    * with the cell count — beyond that budget IVF-PQ is the intended
    * path); the semantic-dedup family lifts it ([[trainQuantizer]]) now
    * that its assignment defaults to the broadcast argmax, which is
    * plan-size-flat — the 256 clamp was a literal-path artifact there
    * (r11, VERDICT #2). */
  private def resolveNCentroids(base: DataFrame, requested: Int,
                                maxCells: Int = 256): Int =
    if (requested > 0) requested
    else {
      val n = base.count()
      math.max(16, math.min(maxCells, math.ceil(math.sqrt(n.toDouble)).toInt))
    }

  /** Zero-row (query_id, neighbor_id, cos, rn) frame in the top-k output
    * schema — the empty-corpus result of the literal-quantizer paths
    * (an empty literal array would not even analyze). */
  private def emptyTopK(base: DataFrame): DataFrame =
    base.filter(lit(false))
      .select(col("id").as("query_id"), col("id").as("neighbor_id"),
        lit(0.0).as("cos"), lit(1).as("rn"))

  /** Per-row scores against every centroid as one literal-backed array of
    * (csim, -cid) structs: array_max = argmax with the (csim desc, cid asc)
    * tie-break; sort desc + slice = the nProbe nearest for the query side. */
  private def centScoresFor(cents: Array[(Long, Seq[Double], Double)])(
      v: Column, n: Column): Column =
    array(cents.map { case (cid, cv, cn) =>
      struct((dot(v, typedlit(cv)) / (n * lit(cn))).as("csim"),
        lit(-cid).as("negcid"))
    }: _*)

  /**
   * Coarse quantizer for [[ivfTopK]]: `nCentroids` deterministic sample
   * vectors (lowest ids — seedless, reproducible), optionally refined by
   * `iters` Lloyd rounds. Each round is scale-shaped:
   *  - assignment: the same map-side argmax expression the query path uses
   *    (zero corpus shuffle);
   *  - update: `posexplode` + avg per (cid, dim) — partial aggregation
   *    combines map-side, so the exchange carries |centroids × dim|
   *    partials per partition, never corpus rows;
   *  - the ≤ centroids×dim means are collected (bounded model parameters)
   *    and reassembled driver-side; empty clusters keep their previous
   *    centroid. Centroid ids stay the initial sample ids so results are
   *    reproducible run-to-run.
   */
  def trainCentroids(base: DataFrame, nCentroids: Int,
                     iters: Int): Array[(Long, Seq[Double], Double)] = {
    var cents: Array[(Long, Seq[Double], Double)] =
      base.orderBy(col("id")).limit(nCentroids)
        .select(col("id").cast("long"), col("v"), col("n"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    var it = 0
    while (it < iters) {
      // two-regime assignment (assignTo): Lloyd rounds over a large cell
      // count probe the broadcast argmax instead of a literal-per-
      // centroid plan — each round's plan stays flat in nCentroids
      val assigned = assignTo(cents)(base)
      val means = assigned
        .select(col("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (cid, cv, cn) =>
        means.get(cid) match {
          case Some(m) =>
            val norm = math.sqrt(m.map(x => x * x).sum)
            if (norm > 0) (cid, m, norm) else (cid, cv, cn)
          case None => (cid, cv, cn) // empty cluster keeps its centroid
        }
      }
      it += 1
    }
    cents
  }

  // ------------------------------------------------------------------
  // Product quantization (IVF-PQ) — the compressed-index scale path
  // ------------------------------------------------------------------

  /**
   * PQ codebooks: the vector space is split into `m` contiguous
   * subspaces of `ds` dims; each subspace gets `kSub` codewords.
   * `books(j)(c)` = codeword c of subspace j. Initialization is the same
   * deterministic lowest-id sample as [[trainCentroids]]; `iters` Lloyd
   * rounds refine all subspaces JOINTLY in one distributed pass each:
   * encode map-side, then avg per (subspace, code, dim-in-subspace) —
   * partial aggregation bounds the exchange to m×kSub×ds rows, and only
   * those means (bounded model parameters, not data) reach the driver.
   */
  def trainPqBooks(base: DataFrame, m: Int, kSub: Int,
                   iters: Int): Array[Array[Seq[Double]]] = {
    val samples = base.orderBy(col("id")).limit(kSub)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    if (samples.isEmpty) return Array.fill(m)(Array.empty)
    val d = samples.head.length
    require(d % m == 0, s"dim $d must divide into $m subspaces")
    val ds = d / m
    var books: Array[Array[Seq[Double]]] =
      Array.tabulate(m)(j => samples.map(s => s.slice(j * ds, (j + 1) * ds)))
    var it = 0
    while (it < iters) {
      val rows = base.withColumn("codes",
          pqCodesNative(base.sparkSession, books)(col("v")))
        .select(col("codes"), posexplode(col("v")))
        .select(expr(s"pos div $ds").cast("int").as("j"),
          element_at(col("codes"), expr(s"pos div $ds").cast("int") + 1).as("c"),
          (col("pos") % ds).cast("int").as("p"), col("col").as("x"))
        .groupBy(col("j"), col("c"), col("p")).agg(avg(col("x")).as("mn"))
        .collect()
      val means = rows.groupBy(r => (r.getInt(0), r.getInt(1))).map {
        case (jc, rs) => jc -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
      }
      books = Array.tabulate(m)(j => books(j).zipWithIndex.map {
        case (cw, c) => means.getOrElse((j, c), cw) // empty cell keeps codeword
      })
      it += 1
    }
    books
  }

  /** Map-side PQ encoding: per subspace, argmin ‖sub − cw‖² via the
    * max-of-structs trick (2·sub·cw − ‖cw‖² maximized; smallest code wins
    * ties). One int array per row — the compressed representation. */
  private[graft] def pqCodesFor(books: Array[Array[Seq[Double]]], ds: Int)(
      v: Column): Column =
    array(books.indices.map { j =>
      val sub = slice(v, j * ds + 1, ds)
      val scored = array(books(j).zipWithIndex.map { case (cw, c) =>
        val n2 = cw.map(x => x * x).sum
        struct((dot(sub, typedlit(cw)) * 2 - lit(n2)).as("score"),
          lit(-c).as("negc"))
      }: _*)
      (-array_max(scored).getField("negc")).cast("int")
    }: _*)

  /** ‖reconstruction‖² from the codes — literal per-codeword norms. */
  private def pqReconNorm2For(books: Array[Array[Seq[Double]]])(
      codes: Column): Column =
    books.indices.map { j =>
      element_at(typedlit(books(j).map(cw => cw.map(x => x * x).sum).toSeq),
        element_at(codes, j + 1) + 1)
    }.reduce(_ + _)

  /** Per-query ADC lookup tables: luts(j)(c) = query_sub_j · codeword_c —
    * computed ONCE per query row (the tiny side), so the per-candidate
    * score is m array lookups instead of d multiplies. */
  private def pqLutsFor(books: Array[Array[Seq[Double]]], ds: Int)(
      qv: Column): Column =
    array(books.indices.map { j =>
      val sub = slice(qv, j * ds + 1, ds)
      array(books(j).map(cw => dot(sub, typedlit(cw))): _*)
    }: _*)

  /** A trained IVF-PQ model: coarse quantizer + per-subspace codebooks —
    * bounded driver-side parameters, serializable, reusable across query
    * batches (and persistable next to the encoded index). */
  final case class PqModel(cents: Array[(Long, Seq[Double], Double)],
                           books: Array[Array[Seq[Double]]]) {
    def isEmpty: Boolean = cents.isEmpty || books.exists(_.isEmpty)
    def dim: Int = books.map(b => if (b.isEmpty) 0 else b.head.length).sum
  }

  /**
   * Persist a [[PqModel]] as two small parquet tables (`centroids`,
   * `codebooks`) under `path`. The model is bounded driver-side state
   * (≤ nCentroids + m·kSub rows), so this closes the production loop
   * across SESSIONS, not just within one: build once, write the encoded
   * index next to the model, and every later job does [[loadPqModel]] +
   * `spark.read.parquet(index)` + [[searchPqIndex]] — no retrain, no
   * corpus rescan, and the format is plain parquet any engine can read.
   */
  def savePqModel(model: PqModel, path: String,
                  spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    centroidsToDF(model.cents, spark)
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    model.books.zipWithIndex.flatMap { case (cws, j) =>
      cws.zipWithIndex.map { case (cw, c) => (j, c, cw) }
    }.toSeq.toDF("j", "c", "cw")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Inverse of [[savePqModel]]. Row order on disk is immaterial: cents
    * reassemble cid-ascending (the deterministic build order — the
    * lowest-id sample, preserved by training) and books by their (j, c)
    * indices, so the loaded model reproduces the original bit for bit. */
  def loadPqModel(path: String,
                  spark: org.apache.spark.sql.SparkSession): PqModel = {
    import spark.implicits._
    val cents = centroidsFromDF(spark.read.parquet(s"$path/centroids"))
    val books = spark.read.parquet(s"$path/codebooks")
      .select(col("j").cast("int"), col("c").cast("int"), col("cw"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    PqModel(cents, books)
  }

  /**
   * Build the IVF-PQ index ONCE: train the coarse quantizer and the PQ
   * codebooks, then encode the corpus in one map-only pass (literal
   * codebooks, zero shuffle). Returns the model and the compressed
   * index (id, cid, codes, rn2) — full vectors are not carried. In
   * production, write the index DataFrame (bucketed by cid) and keep
   * the model with it; every later query batch starts from
   * [[searchPqIndex]] and never rescans or retrains.
   */
  def buildPqIndex(df: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int = 16, m: Int = 8, kSub: Int = 16,
                   trainIters: Int = 0, pqIters: Int = 1): (PqModel, DataFrame) =
    buildPqIndexWith(df, idCol, vecCol, Nil, nCentroids, m, kSub,
      trainIters, pqIters)

  /**
   * Encode vectors against a FROZEN model: assign the coarse list and PQ
   * codes with literal codebooks — map-only, zero shuffle, usable for
   * the initial corpus and for every later increment alike.
   */
  def encodePqIndex(model: PqModel, df: DataFrame,
                    idCol: String, vecCol: String): DataFrame =
    encodePqIndexWith(model, df, idCol, vecCol, Nil)

  /**
   * [[encodePqIndex]] carrying filter attributes NEXT TO the codes: the
   * deployment shape for filtered search on a fixed attribute (tenant,
   * language, license class). The index is plain (id, cid, codes, rn2,
   * attrs…) columns — persisted as parquet, a predicate over `attrCols`
   * pushes down to the INDEX scan itself ([[ivfPqTopKAttr]]), removing
   * the corpus-scale semi-join [[ivfPqTopKWhere]] pays to reconstruct
   * the attribute from the metadata table. Still map-only, zero shuffle.
   */
  def encodePqIndexWith(model: PqModel, df: DataFrame,
                        idCol: String, vecCol: String,
                        attrCols: Seq[String]): DataFrame = {
    require(!model.isEmpty, "cannot encode against an empty model")
    // r16 optimization note: a width-guarded repartition before the
    // encode was TRIED (the Dedup.spreadNarrowScan pattern) and measured
    // NEUTRAL; the encode stays fused with the scan, zero shuffle.
    // r17 re-measurement overturned the r16 attribution: the raw
    // embeddings scan is ~0.09 s at sf0.1 where the full encode pass was
    // ~0.36 s — the cost was the LITERAL expression trees (per row: m
    // sub-slices + m·kSub score structs for the codes, nCentroids more
    // for the coarse assign), not the array<double> decode. Both
    // corpus-sized assignments now run through the broadcast-codebook
    // native expressions (CentroidArgmaxExpr / PqCodesExpr), each
    // spec-pinned bit-equivalent to its literal form; the tiny
    // query-side probe/LUT expressions keep the literal shape.
    val spark = df.sparkSession
    df.select(col(idCol).as("id") +: col(vecCol).cast("array<double>").as("v")
        +: attrCols.map(col): _*)
      .withColumn("cid", centroidArgmax(spark, model.cents)(col("v")))
      .withColumn("codes", pqCodesNative(spark, model.books)(col("v")))
      .withColumn("rn2", pqReconNorm2For(model.books)(col("codes")))
      .select(col("id") +: col("cid") +: col("codes") +: col("rn2")
        +: attrCols.map(col): _*)
  }

  /**
   * Incremental index maintenance: encode NEW vectors against the frozen
   * model (map-only) and append them to the standing index — no retrain,
   * no rescan of the old corpus. This is how a growing corpus stays
   * searchable between rebuilds: the append is O(increment), and
   * [[searchPqIndex]] over the union is exact in its re-rank stage
   * regardless of when rows were encoded. The trade-off is quantizer
   * drift — centroids trained on the original distribution gradually
   * mis-balance the lists as the corpus shifts; production rebuilds on a
   * cadence (or when list-size skew crosses a bound), exactly like any
   * IVF deployment.
   */
  def appendToPqIndex(model: PqModel, index: DataFrame, newDf: DataFrame,
                      idCol: String, vecCol: String): DataFrame =
    index.unionByName(encodePqIndex(model, newDf, idCol, vecCol))

  /**
   * Quantizer-staleness signal for the append path: reconstruction
   * residual `1 − cos(v, decode(encode(v)))` aggregated over `df` —
   * how well the FROZEN codebooks still describe a batch of vectors.
   * Map-only (literal codebooks, the same self-ADC arithmetic the
   * search path uses) plus one tiny aggregate; cost is one pass over
   * the measured batch, so measuring every increment is cheap relative
   * to encoding it.
   *
   * Usage contract (pinned in `PqDriftSpec`): record the build-time
   * baseline (`pqResidualStats` over the build corpus) next to the
   * saved model; before [[appendToPqIndex]], measure the increment and
   * compare with [[pqAppendIsStale]]. Rising residual means the
   * arriving distribution has left the codebooks' fitted region —
   * coarse lists mis-balance and the ADC shortlist loses recall (the
   * drift failure measured in `PqDriftSpec`: recall collapses only
   * AFTER the signal fires, so the trigger leads the damage). Rebuild
   * ([[buildPqIndex]] over the accumulated corpus) restores both.
   *
   * Returns one row: (n_vectors, mean_residual, max_residual), 6-dp
   * rounded like every cosine this module emits. Zero-norm vectors are
   * excluded (no cosine defined).
   */
  def pqResidualStats(model: PqModel, df: DataFrame,
                      idCol: String, vecCol: String): DataFrame = {
    require(!model.isEmpty, "cannot measure residuals against an empty model")
    val ds = model.dim / model.books.length
    val enc = prepVecs(df, idCol, vecCol)
      .filter(col("n") > 0)
      .withColumn("codes", pqCodesNative(df.sparkSession, model.books)(col("v")))
      .withColumn("rn2", pqReconNorm2For(model.books)(col("codes")))
      .withColumn("luts", pqLutsFor(model.books, ds)(col("v")))
    enc
      .withColumn("residual",
        lit(1.0) - adcDot(model) / (col("n") * sqrt(col("rn2"))))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("residual")), 6).as("mean_residual"),
        round(max(col("residual")), 6).as("max_residual"))
  }

  /**
   * The documented rebuild trigger for [[appendToPqIndex]]: an increment
   * is STALE when its mean reconstruction residual exceeds
   * `ratio × baseline + slack` (baseline = the build-time
   * `mean_residual`; `slack` absorbs noise when a tightly-clustered
   * build corpus puts the baseline near zero). Fire ⇒ rebuild the index
   * over the accumulated corpus instead of appending against the stale
   * model. Thresholds are deployment policy; the defaults are the ones
   * `PqDriftSpec` demonstrates firing before planted-group recall
   * breaks.
   */
  def pqAppendIsStale(model: PqModel, baselineMeanResidual: Double,
                      incoming: DataFrame, idCol: String, vecCol: String,
                      ratio: Double = 2.0, slack: Double = 0.02): Boolean = {
    val inc = pqResidualStats(model, incoming, idCol, vecCol)
      .select(col("mean_residual")).head()
    !inc.isNullAt(0) &&
      inc.getDouble(0) > baselineMeanResidual * ratio + slack
  }

  /**
   * Session-lifetime IVF-PQ index handle — the MAINTAINED form of the
   * build/append/search triple for long-lived drivers (a query service,
   * a streaming ingester). Holds the model, the persisted encoded
   * index, the accumulated full-vector corpus (for exact re-rank), and
   * the BUILD-TIME residual baseline. Every [[append]] first measures
   * the increment against that baseline ([[pqAppendIsStale]] — one
   * map-only pass over the increment, cheap next to encoding it) and,
   * when the arriving distribution has left the codebooks' fitted
   * region, REBUILDS over the accumulated corpus instead of appending
   * against the stale model — closing the r10 gap where the drift
   * signal existed but nothing cached consulted it: a session serving
   * a cached index across drifted appends kept serving it forever.
   * Drift → rebuild → recall-restored is pinned end to end through
   * this handle in `PqDriftSpec`.
   *
   * Concurrency: appends serialize on the handle (index maintenance is
   * inherently ordered); searches read the current (model, index)
   * snapshot. The corpus accumulates as a logical union — plan growth
   * is linear in appends-since-rebuild, which rebuilds reset; a
   * deployment appending thousands of increments between rebuilds
   * should persist the corpus as a table and rebuild from that.
   */
  final class ManagedPqIndex private[operators] (
      df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, m: Int, kSub: Int,
      trainIters: Int, pqIters: Int,
      ratio: Double, slack: Double) {
    private var modelV: PqModel = _
    private var indexV: DataFrame = _
    private var corpusV: DataFrame = _
    private var baselineV: Double = _
    private var rebuildsV: Int = 0
    build(df.select(col(idCol), col(vecCol)))

    private def build(corpus: DataFrame): Unit = {
      val (mm, idx) = buildPqIndex(corpus, idCol, vecCol, nCentroids,
        m, kSub, trainIters, pqIters)
      val persisted =
        idx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted.count() // materialize once; searches read the cache
      val prev = indexV
      if (prev != null) { prev.unpersist(); () }
      modelV = mm
      indexV = persisted
      corpusV = corpus
      val base = pqResidualStats(mm, corpus, idCol, vecCol)
        .select(col("mean_residual")).head()
      baselineV = if (base.isNullAt(0)) 0.0 else base.getDouble(0)
    }

    /** Append an increment, rebuilding first if it is drift-stale. */
    def append(increment: DataFrame): Unit = synchronized {
      val inc = increment.select(col(idCol), col(vecCol))
      if (pqAppendIsStale(modelV, baselineV, inc, idCol, vecCol,
          ratio, slack)) {
        build(corpusV.unionByName(inc))
        rebuildsV += 1
      } else {
        indexV = appendToPqIndex(modelV, indexV, inc, idCol, vecCol)
        corpusV = corpusV.unionByName(inc)
      }
    }

    /** Search the current index (exact re-rank against the accumulated
      * corpus), [[searchPqIndex]] contract. */
    def search(queryPred: Column, k: Int, nProbe: Int = 4,
               rerankFactor: Int = 4): DataFrame = {
      val (mm, idx, corpus) = synchronized { (modelV, indexV, corpusV) }
      searchPqIndex(mm, idx, corpus, idCol, vecCol, queryPred, k,
        nProbe, rerankFactor)
    }

    /** [[search]] for ONE query id through the pushed-point-filter
      * re-rank ([[searchPqIndexPointQuery]]) — the serving shape: no
      * corpus-scale read anywhere in the query (r15). Bit-equal to
      * `search(col(idCol) === queryId, …)`, spec-pinned. */
    def searchPoint(queryId: Long, k: Int, nProbe: Int = 4,
                    rerankFactor: Int = 4): DataFrame = {
      val (mm, idx, corpus) = synchronized { (modelV, indexV, corpusV) }
      searchPqIndexPointQuery(mm, idx, corpus, idCol, vecCol, queryId, k,
        nProbe, rerankFactor)
    }

    /** Rebuilds triggered by drift-stale appends (observability/spec). */
    def rebuilds: Int = synchronized(rebuildsV)

    /** Current build-time residual baseline (observability/spec). */
    def baseline: Double = synchronized(baselineV)
  }

  /** Build a [[ManagedPqIndex]] over a corpus — train + encode +
    * persist + record the drift baseline in one call. */
  def managedPqIndex(df: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int = 16, m: Int = 8, kSub: Int = 16,
                     trainIters: Int = 0, pqIters: Int = 1,
                     staleRatio: Double = 2.0,
                     staleSlack: Double = 0.02): ManagedPqIndex =
    new ManagedPqIndex(df, idCol, vecCol, nCentroids, m, kSub,
      trainIters, pqIters, staleRatio, staleSlack)

  /**
   * Query a prebuilt IVF-PQ index: probe the `nProbe` nearest coarse
   * lists, score candidates with asymmetric distance computation (ADC —
   * m table lookups per pair; the lookup tables are computed once per
   * query on the broadcast side), then re-rank the `rerankFactor × k`
   * ADC shortlist exactly against `fullVectors` in one map-only pass.
   * Recall is tunable by nProbe / kSub / rerankFactor; the final
   * ranking is exact (full-vector cosine, same rounding contract as the
   * other ANN paths).
   */
  def searchPqIndex(model: PqModel, index: DataFrame,
                    fullVectors: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int,
                    nProbe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    val base = prepVecs(fullVectors, idCol, vecCol)
    if (model.isEmpty) return emptyTopK(base)
    val queries = base.filter(queryPred)
    val shortlist = pqShortlist(model, index, queries, k, nProbe, rerankFactor)
    // Exact re-rank: map-only corpus pass against the broadcast shortlist.
    rankTopK(base.join(broadcast(shortlist), col("id") === col("neighbor_id"))
      .join(broadcast(querySide(queries)), "query_id")
      .select(col("query_id"), col("neighbor_id"), rerankCos), k)
  }

  /** The probe → ADC → shortlist stage of every IVF-PQ search: the
    * `k × rerankFactor` best (query_id, neighbor_id) pairs by ADC score
    * in each query's `nProbe` cells (lookup tables built once per query
    * on the broadcast side). */
  private def pqShortlist(model: PqModel, index: DataFrame,
                          queries: DataFrame, k: Int, nProbe: Int,
                          rerankFactor: Int): DataFrame = {
    val ds = model.dim / model.books.length
    val probes = probeCells(queries, model.cents, nProbe)
      .select(col("id").as("query_id"), col("cid"),
        col("n").as("qn"), pqLutsFor(model.books, ds)(col("v")).as("luts"))
    val candApprox = index.join(broadcast(probes), "cid")
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (adcDot(model) / (col("qn") * sqrt(col("rn2")))).as("acos"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id").asc)
    candApprox.withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= k.toLong * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** ADC dot product of a row's `codes` against its `luts`: m lookups. */
  private def adcDot(model: PqModel): Column =
    model.books.indices.map { j =>
      element_at(element_at(col("luts"), j + 1), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)

  /** The re-rank's query side: (query_id, qv, qn) from (id, v, n) rows. */
  private def querySide(queries: DataFrame): DataFrame =
    queries.select(col("id").as("query_id"), col("v").as("qv"),
      col("n").as("qn"))

  /**
   * [[searchPqIndex]] for a SINGLE query id, with every read of the
   * full-vector table reduced to a pushed-down point filter — the
   * serving shape for index-bound retrieval (r15, VERDICT r14 #1).
   * [[searchPqIndex]]'s exact re-rank joins the broadcast shortlist
   * against a scan of the ENTIRE `fullVectors` table — map-only, but at
   * 100 TB that is still a corpus-wide read per query batch. Here the
   * shortlist ids (≤ k·rerankFactor — a query parameter, the
   * bounded-model tier) are collected and pushed INTO the vector scan
   * as an `IN` predicate, so the only rows ever read from the
   * full-vector table are the query row and the shortlist: on a
   * persisted parquet corpus both reach the scan as PushedFilters and
   * prune at the row-group level (spec-pinned). ADC arithmetic,
   * shortlist window, and re-rank cosine are the IDENTICAL expressions
   * [[searchPqIndex]] compiles, so the output is bit-equal to
   * `searchPqIndex(model, index, fullVectors, …, col(idCol) === queryId,
   * k, …)` — spec-pinned, and the hybrid gate's oracle replays this
   * path in DuckDB end to end.
   */
  def searchPqIndexPointQuery(model: PqModel, index: DataFrame,
                              fullVectors: DataFrame,
                              idCol: String, vecCol: String,
                              queryId: Long, k: Int,
                              nProbe: Int = 4,
                              rerankFactor: Int = 4): DataFrame = {
    def pointRead(pred: Column): DataFrame =
      prepVecs(fullVectors.filter(pred), idCol, vecCol)
    val queries = pointRead(col(idCol) === queryId)
    if (model.isEmpty) return emptyTopK(queries)
    // bounded-model collect: ≤ k·rerankFactor ids, pushed back into the
    // vector scan as a point-IN predicate
    val shortlistIds = pqShortlist(model, index, queries, k, nProbe,
        rerankFactor)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSeq
    if (shortlistIds.isEmpty) return emptyTopK(queries)
    rankTopK(pointRead(col(idCol).isin(shortlistIds: _*))
      .crossJoin(broadcast(querySide(queries)))
      .select(col("query_id"), col("id").as("neighbor_id"), rerankCos), k)
  }

  /**
   * [[searchPqIndexPointQuery]] for a BATCH of query ids (r16, VERDICT
   * r15 #1) — index-bound retrieval for a curation batch of thousands
   * of queries, with NO per-query driver round-trip and NO `isin`
   * literal list. The single-query form collects its ≤ k·rerankFactor
   * shortlist and pushes it back as an IN point filter — exactly right
   * for ONE serving query, but a thousand-query batch through it would
   * pay a thousand driver round-trips (and through [[searchPqIndex]], a
   * full-corpus re-rank scan per batch). Here everything stays
   * distributed:
   *
   *  - query vectors: the `queryIds` frame's min/max (ONE constant-size
   *    agg — 2 longs — per batch) becomes a range predicate pushed into
   *    the vector scan and refined exactly by a broadcast semi-join on
   *    id — no literal per query;
   *  - per-query ADC shortlists: the IDENTICAL probe/LUT/window
   *    expressions [[searchPqIndex]] compiles, partitioned by query_id,
   *    so shuffle volume is ∝ candidate volume (nQueries × probed-list
   *    mass), never corpus;
   *  - exact re-rank: the shortlist (≤ nQueries·k·rerankFactor pairs)
   *    is localCheckpoint'd once (compute-once, never driver-collected),
   *    its neighbor-id min/max (2 longs) pushed into the vector scan as
   *    a range predicate, and the scan refined by a BROADCAST join
   *    against the shortlist pairs — the broadcast-semi-join shape the
   *    collect+isin form cannot reach: on a persisted parquet corpus
   *    both vector reads carry PushedFilters and prune at the row-group
   *    level, and no embeddings scan ever crosses an exchange.
   *
   * Output is bit-equal to a fold of [[searchPqIndexPointQuery]] /
   * [[ManagedPqIndex.searchPoint]] over the query set — per-query
   * shortlists and ranks are independent across queries (spec-pinned) —
   * and the `sim_ivfpq_points_det` gate certifies the whole batch
   * against the VERBATIM `sim_ivfpq_det` DuckDB oracle.
   */
  def searchPqIndexPoints(model: PqModel, index: DataFrame,
                          fullVectors: DataFrame,
                          idCol: String, vecCol: String,
                          queryIds: DataFrame, k: Int,
                          nProbe: Int = 4,
                          rerankFactor: Int = 4): DataFrame = {
    val qids = queryIds
      .select(col(queryIds.columns.head).cast("long").as("qid")).distinct()
    def rangedRead(bounds: (Long, Long)): DataFrame = prepVecs(
      fullVectors.filter(col(idCol) >= bounds._1 && col(idCol) <= bounds._2),
      idCol, vecCol)
    val qBounds = minMax(qids, "qid")
    if (qBounds.isEmpty || model.isEmpty)
      return emptyTopK(rangedRead((0L, -1L)))
    val queries = rangedRead(qBounds.get)
      .join(broadcast(qids), col("id") === col("qid"), "left_semi")
    // compute-once shortlist: the min/max probe and the re-rank join
    // both read the checkpointed pairs, so the probe work runs exactly
    // one time and nothing shortlist-sized reaches the driver. LAZY
    // (r16 optimization, the GraphRank precedent): the immediately
    // following bounds agg is a full scan, so it materializes the
    // checkpoint in ITS job — an eager checkpoint would run the whole
    // probe DAG as a separate job first and pay one more job barrier
    // per call for nothing.
    val shortlist = pqShortlist(model, index, queries, k, nProbe,
        rerankFactor)
      .localCheckpoint(false)
    val nBounds = minMax(shortlist, "neighbor_id")
    if (nBounds.isEmpty) return emptyTopK(queries)
    rankTopK(rangedRead(nBounds.get)
      .join(broadcast(shortlist), col("id") === col("neighbor_id"))
      .join(broadcast(querySide(queries)), "query_id")
      .select(col("query_id"), col("neighbor_id"), rerankCos), k)
  }

  /** (min, max) of a long column, None for an empty frame — one agg of
    * constant-size driver data (the bounded-model tier). */
  private[operators] def minMax(df: DataFrame, c: String): Option[(Long, Long)] =
    df.agg(min(col(c)).as("lo"), max(col(c)).as("hi")).collect()
      .headOption.filterNot(_.isNullAt(0))
      .map(r => (r.getLong(0), r.getLong(1)))

  /**
   * Late-interaction (ColBERT-style) MaxSim retrieval, exact form (r16;
   * Khattab & Zaharia, SIGIR 2020): documents and the query are BAGS of
   * token vectors — `vectors` carries one row per token
   * (`docIdCol`, `vecIdCol`, `vecCol`) — and a document's score is
   * Σ over query tokens of (max over the document's tokens of cosine).
   * Summing per-token maxima is what separates late interaction from
   * single-vector retrieval: a document matches a multi-aspect query by
   * covering each aspect with its BEST token, not by one pooled vector
   * splitting the difference.
   *
   * Scale shape: the query's token rows (a handful) broadcast against
   * ONE corpus token scan — the same non-equi broadcast the brute-force
   * scorer uses; per-(doc, query-token) maxima come from a map-side
   * partial `max` (the exchange carries ≤ nDocs·nQTok rows, never token
   * pairs); the global top-k is TakeOrdered (k rows per partition fold
   * to the driver — no full sort, the [[Relevance]] rank precedent).
   * Docs CONTAINING a query token (the query document itself) are
   * excluded — the bag-level analogue of the scorer's `q.id =!= c.id`.
   *
   * Determinism: cosines round to 6 dp BEFORE the max (order-free), the
   * per-doc score rounds the sum to 6 dp (the bm25 discipline); ties
   * break by doc id. Output (doc_id, score, rn); empty query set →
   * empty frame.
   */
  def maxSimTopK(vectors: DataFrame, docIdCol: String, vecIdCol: String,
                 vecCol: String, queryTokenPred: Column,
                 k: Int): DataFrame = {
    require(k > 0, "maxSimTopK needs positive k")
    val base = tokenVecs(vectors, docIdCol, vecIdCol, vecCol)
    val q = base.filter(queryTokenPred)
    val qDocs = q.select(col("doc_id")).distinct()
    val corpus = base.join(broadcast(qDocs), Seq("doc_id"), "left_anti")
    maxSimScoreTail(corpus, q, k)
  }

  /**
   * Index-bound MaxSim (r16) — the late-interaction serving shape at
   * corpus scale: candidate documents come from the persisted IVF-PQ
   * index instead of scoring every document. Each query token's
   * approximate top-`kTok` neighbor TOKENS ([[searchPqIndexPoints]] —
   * distributed ADC shortlists, range-pruned broadcast re-rank) vote
   * their documents into the candidate set; the exact MaxSim tail then
   * runs ONLY over candidate-document tokens (broadcast semi-join +
   * doc-range scan predicate — with a materialized doc column both
   * reads row-group-prune). This is the standard ColBERT candidate
   * generation: exact late interaction on an index-bounded candidate
   * set, recall bounded by the per-token shortlists.
   *
   * With full coverage (`nProbe` ≥ cells and `kTok·rerankFactor` ≥
   * corpus tokens) the candidate set is every non-query document and
   * the output is BIT-EQUAL to [[maxSimTopK]] (spec-pinned; the
   * `sim_maxsim_indexed` gate is certified by the exact gate's VERBATIM
   * oracle under such a configuration). Scores of returned docs are
   * always exact — shortlisting affects WHICH docs compete, never how a
   * candidate is scored. Empty query set or empty model → empty frame.
   */
  def maxSimTopKIndexed(model: PqModel, index: DataFrame,
                        vectors: DataFrame, docIdCol: String,
                        vecIdCol: String, vecCol: String,
                        queryTokenPred: Column, k: Int,
                        kTok: Int = 50, nProbe: Int = 4,
                        rerankFactor: Int = 4): DataFrame = {
    require(k > 0 && kTok > 0, "maxSimTopKIndexed needs positive k")
    val base = tokenVecs(vectors, docIdCol, vecIdCol, vecCol)
    val q = base.filter(queryTokenPred)
    val emptyOut = maxSimScoreTail(base.filter(lit(false)),
      q.filter(lit(false)), k)
    if (model.isEmpty) return emptyOut
    // compute-once: the bounds agg and the mapping join both read the
    // checkpointed id set, so the index probe + re-rank run exactly
    // once. Lazy: the bounds agg below is the first consumer and scans
    // every partition, so it materializes the checkpoint in its own job
    // instead of paying a dedicated materialization barrier (r16).
    val shortlist = searchPqIndexPoints(model, index, vectors,
        vecIdCol, vecCol, q.select(col("id")), k = kTok,
        nProbe = nProbe, rerankFactor = rerankFactor)
      .select(col("neighbor_id")).distinct().localCheckpoint(false)
    // neighbor tokens → their documents: a range-pruned 2-column read of
    // the token→doc mapping refined by the broadcast shortlist (≤
    // nQTok·kTok ids) — never a corpus-wide unfiltered pass
    val nb = minMax(shortlist, "neighbor_id")
    if (nb.isEmpty) return emptyOut
    val qDocs = q.select(col("doc_id")).distinct()
    val candDocs = base
      .filter(col("id") >= nb.get._1 && col("id") <= nb.get._2)
      .join(broadcast(shortlist), col("id") === col("neighbor_id"),
        "left_semi")
      .select(col("doc_id")).distinct()
      .join(broadcast(qDocs), Seq("doc_id"), "left_anti")
    val db = minMax(candDocs, "doc_id")
    if (db.isEmpty) return emptyOut
    val corpus = base
      .filter(col("doc_id") >= db.get._1 && col("doc_id") <= db.get._2)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
    maxSimScoreTail(corpus, q, k)
  }

  /**
   * [[maxSimTopK]] for a BATCH of query documents (r16) — late
   * interaction at curation width. `queryDocIds`' first column names
   * query documents; each query's bag is its own token rows in
   * `vectors`, so a thousand-query curation batch is ONE frame, not a
   * thousand predicates. All query bags broadcast together against ONE
   * corpus token scan; per-(query, doc, query-token) maxima are
   * map-side partials (the exchange carries ≤ nQ·nDocs·bagSize rows,
   * never token pairs); the per-query top-k rank is WindowGroupLimit-
   * bounded. Each query excludes only its OWN document — other query
   * docs compete as candidates, exactly as in the single-query fold
   * (bit-equal per query, spec-pinned). Output (query_id, doc_id,
   * score, rn); an empty batch is an empty frame.
   */
  def maxSimTopKBatch(vectors: DataFrame, docIdCol: String,
                      vecIdCol: String, vecCol: String,
                      queryDocIds: DataFrame, k: Int): DataFrame = {
    require(k > 0, "maxSimTopKBatch needs positive k")
    val base = tokenVecs(vectors, docIdCol, vecIdCol, vecCol)
    maxSimBatchTail(base, batchQueryBags(base, queryDocIds), k)
  }

  /**
   * [[maxSimTopKIndexed]] for a BATCH of query documents (r16): ONE
   * [[searchPqIndexPoints]] call shortlists every query token of every
   * query bag together (distributed ADC, range-pruned reads); each
   * neighbor token votes its document into ITS query's candidate pair
   * set (qdoc, cdoc); exact MaxSim then scores only candidate-doc
   * tokens, with the bounded (broadcast) pair set applied map-side
   * BEFORE aggregation so non-candidate (query, doc) combinations never
   * reach the exchange. Full coverage ⇒ bit-equal to
   * [[maxSimTopKBatch]]; any coverage ⇒ bit-equal per query to the
   * [[maxSimTopKIndexed]] fold (spec-pinned both ways).
   */
  def maxSimTopKIndexedBatch(model: PqModel, index: DataFrame,
                             vectors: DataFrame, docIdCol: String,
                             vecIdCol: String, vecCol: String,
                             queryDocIds: DataFrame, k: Int,
                             kTok: Int = 50, nProbe: Int = 4,
                             rerankFactor: Int = 4): DataFrame = {
    require(k > 0 && kTok > 0, "maxSimTopKIndexedBatch needs positive k")
    val base = tokenVecs(vectors, docIdCol, vecIdCol, vecCol)
    val q = batchQueryBags(base, queryDocIds)
    val emptyOut = maxSimBatchTail(base.filter(lit(false)),
      q.filter(lit(false)), k)
    if (model.isEmpty) return emptyOut
    // compute-once: the bounds agg and the mapping join both read the
    // checkpointed (query token, neighbor) pairs, so the index probe +
    // re-rank run exactly once. Lazy: the bounds agg is the first
    // consumer and full-scans, so no dedicated materialization job (r16).
    val short = searchPqIndexPoints(model, index, vectors, vecIdCol,
        vecCol, q.select(col("qid")), k = kTok, nProbe = nProbe,
        rerankFactor = rerankFactor)
      .select(col("query_id").as("qid"), col("neighbor_id"))
      .localCheckpoint(false)
    val nb = minMax(short, "neighbor_id")
    if (nb.isEmpty) return emptyOut
    // neighbor token → its doc (range-pruned mapping read), shortlist
    // pair → voting query token → its qdoc (both broadcast-bounded):
    // the candidate PAIR set, ≤ nQTokens·kTok·rerankFactor rows
    val pairs = base
      .filter(col("id") >= nb.get._1 && col("id") <= nb.get._2)
      .select(col("id").as("neighbor_id"), col("doc_id").as("cdoc"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(q.select(col("qid"), col("qdoc"))), "qid")
      .filter(col("cdoc") =!= col("qdoc"))
      .select(col("qdoc"), col("cdoc").as("doc_id")).distinct()
      .localCheckpoint(false)
    val db = minMax(pairs, "doc_id")
    if (db.isEmpty) return emptyOut
    val corpus = base
      .filter(col("doc_id") >= db.get._1 && col("doc_id") <= db.get._2)
      .join(broadcast(pairs.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    maxSimBatchTail(corpus, q, k, pairFilter = Some(pairs))
  }

  /** (doc_id, id, v, n) token rows of a late-interaction vector table. */
  private def tokenVecs(vectors: DataFrame, docIdCol: String,
                        vecIdCol: String, vecCol: String): DataFrame =
    vectors.select(col(docIdCol).cast("long").as("doc_id"),
        col(vecIdCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", norm2(col("v")))

  /** Each query doc's bag = its own token rows: the doc-id batch frame
    * (first column, distinct) broadcast-joined back into the token
    * table. */
  private def batchQueryBags(base: DataFrame,
                             queryDocIds: DataFrame): DataFrame = {
    val qd = queryDocIds
      .select(col(queryDocIds.columns.head).cast("long").as("qdoc"))
      .distinct()
    base.join(broadcast(qd), col("doc_id") === col("qdoc"))
      .select(col("qdoc"), col("id").as("qid"), col("v").as("qv"),
        col("n").as("qn"))
  }

  /** Batched MaxSim scoring tail: all query bags broadcast at once, own
    * doc excluded per query by the non-equi condition, optional
    * candidate-pair restriction applied MAP-SIDE before the partial
    * max, per-query rank window (WindowGroupLimit bounds the
    * exchange). */
  private def maxSimBatchTail(corpus: DataFrame, q: DataFrame, k: Int,
                              pairFilter: Option[DataFrame] = None): DataFrame = {
    val joined = corpus.join(broadcast(q), col("qdoc") =!= col("doc_id"))
    val restricted = pairFilter match {
      case Some(p) =>
        joined.join(broadcast(p), Seq("qdoc", "doc_id"), "left_semi")
      case None => joined
    }
    val perTok = restricted
      .select(col("qdoc"), col("doc_id"), col("qid"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("n")), 6).as("cos"))
      .groupBy(col("qdoc"), col("doc_id"), col("qid"))
      .agg(max(col("cos")).as("m"))
    val sc = perTok.groupBy(col("qdoc"), col("doc_id"))
      .agg(round(sum(col("m")), 6).as("score"))
    rankWithin(sc, "qdoc", "score", "doc_id", k)
      .select(col("qdoc").as("query_id"), col("doc_id"), col("score"),
        col("rn"))
  }

  /** Shared MaxSim scoring tail: per-(doc, query-token) max of the
    * 6-dp cosine (map-side partial), per-doc rounded sum, TakeOrdered
    * global top-k with the (score desc, doc_id asc) tie-break. The
    * non-equi broadcast condition mirrors [[bruteForceScored]] — token
    * ids are unique and the query's own doc is excluded upstream, so it
    * never drops a cross-doc pair. */
  private def maxSimScoreTail(corpus: DataFrame, q: DataFrame,
                              k: Int): DataFrame = {
    val qb = broadcast(q.select(col("id").as("qid"), col("v").as("qv"),
      col("n").as("qn")))
    val perTok = corpus.join(qb, col("qid") =!= col("id"))
      .select(col("doc_id"), col("qid"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("n")), 6).as("cos"))
      .groupBy(col("doc_id"), col("qid")).agg(max(col("cos")).as("m"))
    val sc = perTok.groupBy(col("doc_id"))
      .agg(round(sum(col("m")), 6).as("score"))
    takeTopK(sc, "score", "doc_id", k)
      .select(col("doc_id"), col("score"), col("rn"))
  }

  /**
   * Recall@k evaluation (r16): per-query overlap between an APPROXIMATE
   * retrieval result and its EXACT reference — the measurement a
   * curation pipeline tunes `nProbe`/`kTok`/banding against. Both
   * inputs are ranked result frames carrying (query_id, neighbor_id)
   * in those columns (any extra columns ignored); the output is one row
   * per reference query: (query_id, hits, n_exact, recall) with
   * recall = round(hits / n_exact, 6). A query the approximate form
   * missed entirely still appears, with 0 hits — silent misses are the
   * point of the measurement. Scale shape: result frames are k-bounded
   * (≤ k rows per query), so every join here is result-set-sized —
   * never corpus-sized — whatever the corpus behind them was.
   */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    // distinct: a duplicated (query, neighbor) row on either side must
    // not double-count a hit (recall could exceed 1) or inflate
    // n_exact; result frames are k-bounded so the dedup is free
    val a = approx.select(col("query_id"), col("neighbor_id")).distinct()
    val e = exact.select(col("query_id"), col("neighbor_id")).distinct()
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"), col("n_exact"),
        round(coalesce(col("hits"), lit(0L)).cast("double")
          / col("n_exact"), 6).as("recall"))
  }

  /**
   * IVF-PQ approximate top-k, single-call form: [[buildPqIndex]] +
   * [[searchPqIndex]]. The split exists because the expensive part —
   * training + the encode pass — is per-CORPUS, not per-query-batch;
   * production builds once, persists (id, cid, codes, rn2), and amortizes
   * this call's first half away entirely.
   */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 8, kSub: Int = 16,
                trainIters: Int = 0, pqIters: Int = 1,
                rerankFactor: Int = 4): DataFrame = {
    val (model, index) = buildPqIndex(df, idCol, vecCol,
      nCentroids, m, kSub, trainIters, pqIters)
    searchPqIndex(model, index, df, idCol, vecCol, queryPred, k,
      nProbe, rerankFactor)
  }

  /**
   * Filtered IVF-PQ top-k: the compressed-index member of the filtered-ANN
   * family ([[bruteForceTopKWhere]] exact / [[ivfTopKWhere]] uncompressed).
   * The model and index cover the FULL corpus (one shared index across
   * predicates); the index rows are then restricted to ids matching
   * `corpusPred` (over the ORIGINAL `df` columns) via a semi-join with the
   * predicate's pushed-down metadata scan, so ADC scoring, the shortlist,
   * and the exact re-rank all run over matching rows only. At 100 TB the
   * semi-join is the one extra corpus-scale exchange — a deployment
   * filtering on a FIXED attribute should use [[ivfPqTopKAttr]] instead,
   * which carries the attribute in the index at build time and pushes
   * the filter into the index scan itself. Recall under selectivity
   * follows the [[ivfTopKWhere]] trade: widen `nProbe` / `rerankFactor`
   * by ~1/selectivity.
   */
  def ivfPqTopKWhere(df: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, corpusPred: Column, k: Int,
                     nCentroids: Int = 16, nProbe: Int = 4,
                     m: Int = 8, kSub: Int = 16,
                     trainIters: Int = 0, pqIters: Int = 1,
                     rerankFactor: Int = 4): DataFrame = {
    val (model, index) = buildPqIndex(df, idCol, vecCol,
      nCentroids, m, kSub, trainIters, pqIters)
    val allowed = df.filter(corpusPred).select(col(idCol).as("id"))
    searchPqIndex(model, index.join(allowed, Seq("id"), "left_semi"),
      df, idCol, vecCol, queryPred, k, nProbe, rerankFactor)
  }

  /**
   * Attribute-carrying filtered IVF-PQ top-k — the production shape for
   * filtered search on a FIXED attribute (r11 VERDICT #4): the index is
   * built ONCE over the full corpus with `attrCols` stored next to the
   * codes ([[encodePqIndexWith]]), and `indexPred` (over those carried
   * columns) applies DIRECTLY to the index rows — on a persisted parquet
   * index the predicate pushes down to the index scan's row groups, and
   * no corpus-scale semi-join exists anywhere in the plan. Output is
   * identical to [[ivfPqTopKWhere]] with the equivalent corpus predicate
   * (spec-pinned): the same full-corpus model, the same restricted index
   * rows, the same ADC/shortlist/re-rank tail.
   */
  def ivfPqTopKAttr(df: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, indexPred: Column,
                    attrCols: Seq[String], k: Int,
                    nCentroids: Int = 16, nProbe: Int = 4,
                    m: Int = 8, kSub: Int = 16,
                    trainIters: Int = 0, pqIters: Int = 1,
                    rerankFactor: Int = 4): DataFrame = {
    val (model, index) = buildPqIndexWith(df, idCol, vecCol, attrCols,
      nCentroids, m, kSub, trainIters, pqIters)
    searchPqIndex(model, index.filter(indexPred),
      df, idCol, vecCol, queryPred, k, nProbe, rerankFactor)
  }

  /** [[buildPqIndex]] with carried filter attributes: train on the full
    * corpus, encode with `attrCols` stored next to the codes. Persist
    * the returned index as parquet and query it with
    * [[searchPqIndex]]`(model, index.filter(attrPred), …)` — the
    * attribute predicate then prunes the index scan itself. */
  def buildPqIndexWith(df: DataFrame, idCol: String, vecCol: String,
                       attrCols: Seq[String],
                       nCentroids: Int = 16, m: Int = 8, kSub: Int = 16,
                       trainIters: Int = 0, pqIters: Int = 1)
      : (PqModel, DataFrame) = {
    val base = prepVecs(df, idCol, vecCol)
    val model = PqModel(
      trainCentroids(base, resolveNCentroids(base, nCentroids), trainIters),
      trainPqBooks(base, m, kSub, pqIters))
    // Typed null attrs (ADVICE r12): an untyped lit(null) is NullType,
    // which disagrees with the real index's schema and parquet rejects —
    // an empty-model index must persist and union exactly like a real one.
    if (model.isEmpty) return (model, base.limit(0)
      .select(col("id") +: lit(0L).as("cid")
        +: typedlit(Seq.empty[Int]).as("codes") +: lit(0.0).as("rn2")
        +: attrCols.map(c => lit(null).cast(df.schema(c).dataType).as(c)): _*))
    (model, encodePqIndexWith(model, df, idCol, vecCol, attrCols))
  }

  /**
   * Scalar int8 quantization of an embedding column — the 4× memory cut
   * for vector indexes (and the storage format ANN serving stacks
   * expect). Per-vector symmetric scale = max|x|/127;
   * q_i = round(x_i/scale) ∈ [−127, 127]; dequantize as q_i·scale with
   * per-component error ≤ scale/2. Map-only, zero shuffle, engine-exact
   * (integer output + IEEE divide/round) — all-zero vectors quantize to
   * zeros with scale 0.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("scale", array_max(transform(col("_v"), x => abs(x))) / 127.0)
      .withColumn("qvec",
        when(col("scale") > 0,
          transform(col("_v"), x =>
            greatest(lit(-127.0), least(lit(127.0), round(x / col("scale"))))
              .cast("int")))
        .otherwise(transform(col("_v"), _ => lit(0))))
      .select(col("id"), col("scale"), col("qvec"))

  /** Embedding-cosine near-duplicate pairs above a threshold; id_a < id_b.
    * Candidates come from hyperplane-LSH buckets (same signature family as
    * [[lshTopK]]) so the join is an equi-join on the bucket id — never an
    * all-pairs nested loop. High-cosine pairs land in the same bucket with
    * probability (1 − θ/π)^planes; `planes` trades recall for bucket size.
    * The exact cosine re-check inside the bucket removes false positives,
    * so precision is exact and only recall is approximate. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         tau: Double, leftPred: Column,
                         planes: Int = 6): DataFrame =
    bucketNearDupPairs(df, idCol, vecCol, tau, leftPred, lshSignature(_, planes))

  /** The one body of [[cosineNearDupPairs]] and
    * [[cosineNearDupPairsPortable]] (see [[bucketTopK]]). */
  private def bucketNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                                 tau: Double, leftPred: Column,
                                 bucketOf: Column => Column): DataFrame = {
    val base = prepVecs(df, idCol, vecCol)
      .withColumn("bucket", bucketOf(col("v")))
    val a = base.filter(leftPred).alias("a")
    val b = base.alias("b")
    b.join(broadcast(a),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n"))).as("cos"))
      .filter(round(col("cos"), 6) >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /**
   * Engine-portable twin of [[cosineNearDupPairs]]: identical contract,
   * but the bucketing uses the md5-derived planes of [[lshTopKPortable]]
   * (in-order folds) so the candidate set — not just the cosine math —
   * is bit-reproducible in DuckDB. Puts the near-dup bucketing under the
   * exact oracle; the native xxhash64 signature remains the scale path.
   */
  def cosineNearDupPairsPortable(df: DataFrame, idCol: String, vecCol: String,
                                 tau: Double, leftPred: Column,
                                 planes: Int = 6): DataFrame =
    bucketNearDupPairs(df, idCol, vecCol, tau, leftPred,
      portableSignature(_, planes))

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): cluster the embedding space with the IVF coarse
   * quantizer, then inside each cluster drop every row that has a
   * ≥ `tau`-cosine neighbor with a LOWER id — the deterministic
   * keep-first-seen rule (the paper keeps one representative per
   * duplicate group; lowest-id is the reproducible choice, matching
   * [[graft.operators.Dedup]]'s keep rule). Returns `(id, cid, keep)`
   * for every corpus row; callers semi-join `keep` back onto the corpus.
   *
   * Scale shape — exactly the SemDeDup cost model:
   *  - assignment is the same map-side literal-quantizer argmax as
   *    [[ivfTopK]] (centroids are bounded model parameters, zero corpus
   *    shuffle);
   *  - the only exchanges are the hash partition on `cid` for the
   *    within-cluster pair scan and the final keep anti-join, both keyed
   *    on `cid`/`id` — vectors cross the wire once;
   *  - the pair scan is O(cluster²) with cluster ≈ corpus/nCentroids;
   *    pass `nCentroids = -1` for the √n auto-size rule so cluster size
   *    grows as √corpus, keeping per-cluster work bounded. Beyond the
   *    literal-quantizer range, chain [[trainCentroids]] output into a
   *    stored model the same way the IVF-PQ path does.
   *
   * With `trainIters = 0` the quantizer is the deterministic lowest-id
   * sample, so the whole decision — assignment argmax, pair cosine,
   * τ compare on the 6-dp round — reproduces in DuckDB SQL and the gate
   * is oracle-checked.
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    tau: Double, nCentroids: Int = 16,
                    trainIters: Int = 0): DataFrame = {
    val cents = trainQuantizer(df, idCol, vecCol, nCentroids, trainIters)
    if (cents.isEmpty)
      return prepVecs(df, idCol, vecCol)
        .select(col("id"), lit(0L).as("cid"), lit(true).as("keep"))
    semanticDedupWithQuantizer(df, idCol, vecCol, cents, tau)
  }

  /** [[semanticDedup]] under a caller-supplied FROZEN quantizer — the
    * reusable half of the operator: train once ([[trainQuantizer]]),
    * persist ([[centroidsToDF]]), dedup many corpora/batches under the
    * same cluster boundaries. */
  def semanticDedupWithQuantizer(df: DataFrame, idCol: String, vecCol: String,
                                 cents: Array[(Long, Seq[Double], Double)],
                                 tau: Double): DataFrame = {
    val assigned = assignTo(cents)(prepVecs(df, idCol, vecCol))
    val dropped = tauNeighbors(assigned, assigned, tau, lowerIdOnly = true)
    withKeepFlag(assigned, dropped)
  }

  /** Map-side assignment of every row to its argmax centroid under a
    * FROZEN quantizer: `(idCol, vecCol, cid)` — the pre-assigned corpus
    * shape [[semanticDedupIncrementalAssigned]] consumes and the
    * semantic ingest stream persists between batches. Pure projection
    * (literal centroids), zero shuffle; building this once per corpus is
    * the one-time cost the amortized ingest path never re-pays. */
  def assignToQuantizer(df: DataFrame, idCol: String, vecCol: String,
                        cents: Array[(Long, Seq[Double], Double)]): DataFrame = {
    require(cents.nonEmpty, "cannot assign against an empty quantizer")
    assignTo(cents)(prepVecs(df, idCol, vecCol))
      .select(col("id").as(idCol), col("v").as(vecCol), col("cid"))
  }

  /** [[assignToQuantizer]] with the codebook shipped as a TorrentBroadcast
    * probed by a codegen'd argmax loop ([[graft.functions.CentroidArgmaxExpr]],
    * bit-equivalent — spec-pinned, ties included). The literal form
    * carries one struct literal PER CENTROID in the expression tree, so
    * plan construction/optimization/codegen scale with the cell count —
    * measured in PLANS.md's round-10 cid-store table: at the √n sizing
    * partition pruning wants (1414 cells at 2M vectors) the literal path
    * pays minutes of plan work where this form is flat. Use this for
    * production cell counts; the oracle gates keep the literal form at
    * their pinned small sizes. */
  def assignToQuantizerBroadcast(df: DataFrame, idCol: String, vecCol: String,
                                 cents: Array[(Long, Seq[Double], Double)]): DataFrame = {
    require(cents.nonEmpty, "cannot assign against an empty quantizer")
    df.select(col(idCol), col(vecCol),
      centroidArgmax(df.sparkSession, cents)(
        col(vecCol).cast("array<double>")).as("cid"))
  }

  /** Per-model TorrentBroadcast memo (ADVICE r10): a long-lived streaming
    * driver assigns against the same FROZEN quantizer once per batch;
    * un-memoized, every call shipped a fresh broadcast that lingered
    * until GC-driven ContextCleaner caught up. Keyed on the model
    * array's identity (arrays hash by reference; the ingest paths hold
    * one instance for the run) through a WeakHashMap, so dropping the
    * model releases the entry — and the broadcast — for cleanup. A memo
    * hit from a DIFFERENT (e.g. restarted) SparkContext is rebuilt, not
    * reused. */
  private val centroidBroadcasts =
    new BroadcastMemo[Array[(Long, Seq[Double], Double)],
      graft.functions.CentroidSet]()

  /** [[centroidBroadcasts]]' twin for the PQ codebooks (same keying,
    * same lifecycle): one TorrentBroadcast per frozen book array per
    * context, released when the model is dropped. */
  private val pqBookBroadcasts =
    new BroadcastMemo[Array[Array[Seq[Double]]], graft.functions.PqBookSet]()

  private type BroadcastMemo[K, V] =
    java.util.WeakHashMap[K, (org.apache.spark.SparkContext, Broadcast[V])]

  /** The memoized broadcast of `key`'s `value` in `spark`'s context. */
  private def memoBroadcast[K, V: scala.reflect.ClassTag](
      memo: BroadcastMemo[K, V], spark: org.apache.spark.sql.SparkSession,
      key: K)(value: => V): Broadcast[V] =
    memo.synchronized {
      val sc = spark.sparkContext
      val hit = memo.get(key)
      if (hit != null && (hit._1 eq sc) && !sc.isStopped) hit._2
      else {
        val bc = sc.broadcast(value)
        memo.put(key, (sc, bc))
        bc
      }
    }

  /** Native broadcast-codebook coarse assignment — bit-equivalent to the
    * literal `centScoresFor` argmax, ties included (spec-pinned). */
  private def centroidArgmax(spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Long, Seq[Double], Double)])(v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CentroidArgmaxExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        memoBroadcast(centroidBroadcasts, spark, cents)(
          graft.functions.CentroidSet(cents))))

  /** Native broadcast-codebook PQ encode — bit-equivalent to
    * `pqCodesFor(books, ds)` (spec-pinned in SimilaritySpec); the
    * corpus-sized passes use this form, the tiny query-side LUT/probe
    * expressions keep the literal shape. */
  private def pqCodesNative(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Seq[Double]]])(v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqCodesExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        memoBroadcast(pqBookBroadcasts, spark, books)(
          graft.functions.PqBookSet(books))))

  /** The deterministic coarse quantizer as a standalone, persistable
    * model: the same lowest-id sample (+ optional Lloyd rounds) the IVF
    * and SemDeDup paths train internally. Pass `nCentroids = -1` for the
    * √n auto-size rule. */
  def trainQuantizer(df: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int = 16,
                     trainIters: Int = 0): Array[(Long, Seq[Double], Double)] = {
    val base = prepVecs(df, idCol, vecCol)
    // √n unclamped up to a runaway guard: assignment under this family
    // defaults to the broadcast argmax, which is plan-size-flat — see
    // resolveNCentroids. 65536 cells × dim doubles stays a bounded
    // model parameter (tens of MB broadcast) far past any √n this rule
    // reaches below ~4B vectors per quantizer.
    trainCentroids(base, resolveNCentroids(base, nCentroids, 65536),
      trainIters)
  }

  /** Quantizer ⇄ parquet-friendly DataFrame, mirroring [[savePqModel]]:
    * (cid, cv, cn), bit-exact round trip (cid-ascending reassembly). */
  def centroidsToDF(cents: Array[(Long, Seq[Double], Double)],
                    spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("cid", "cv", "cn")
  }

  /** Inverse of [[centroidsToDF]]. */
  def centroidsFromDF(df: DataFrame): Array[(Long, Seq[Double], Double)] = {
    import df.sparkSession.implicits._
    df.select(col("cid").cast("long"), col("cv"), col("cn"))
      .as[(Long, Seq[Double], Double)].collect().sortBy(_._1)
  }

  private def prepVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", norm2(col("v")))

  /** Literal-vs-broadcast assignment regime boundary: below this cell
    * count the argmax rides as per-centroid struct literals (no
    * broadcast machinery, the shape the small-model oracle gates pin);
    * above it the codebook ships as a memoized TorrentBroadcast probed
    * by the codegen'd [[graft.functions.CentroidArgmaxExpr]] — the
    * literal plan's construction/optimization cost scales with the cell
    * count and pays MINUTES of driver time at the √n sizes partition
    * pruning wants (1414 cells at 2M vectors, PLANS.md round-10 cid-store
    * table), where the broadcast path is flat. 256 is the historical
    * literal clamp — the largest size the literal regime was ever
    * certified at. Both forms are bit-equivalent (ties included),
    * spec-pinned through this very switch. (r11: broadcast became the
    * DEFAULT large-model path; the two-regime auto-switch is the BPE
    * segmenter pattern.) */
  private[operators] val literalCellLimit = 256

  private def assignTo(cents: Array[(Long, Seq[Double], Double)])(
      prepped: DataFrame): DataFrame =
    if (cents.length > literalCellLimit)
      prepped.withColumn("cid",
        centroidArgmax(prepped.sparkSession, cents)(col("v")))
    else
      prepped.withColumn("cid",
        -array_max(centScoresFor(cents)(col("v"), col("n"))).getField("negcid"))

  /** ids of `b` rows with a ≥ τ cosine neighbor in `a`'s same cluster
    * (optionally only lower-id neighbors). Both frames carry
    * (id, v, n, cid). `broadcastB` — set by the INGEST paths, where `b`
    * is the batch — explicitly broadcasts the b side so the corpus-sized
    * `a` side is probed map-only: without the hint the planner
    * shuffle-joins on cid, re-shuffling the whole corpus per ingest, and
    * its estimate for the batch scales with the backing corpus FILE, so
    * the shape also degrades with corpus growth (r10 soak find, the
    * inStars class). Corpus×corpus callers leave it false — there the
    * cid shuffle join IS the correct scale plan. */
  private def tauNeighbors(b: DataFrame, a: DataFrame, tau: Double,
                           lowerIdOnly: Boolean,
                           broadcastB: Boolean = false): DataFrame = {
    val cond = col("a.cid") === col("b.cid") &&
      (if (lowerIdOnly) col("a.id") < col("b.id") else lit(true))
    val bSide = if (broadcastB) broadcast(b.alias("b")) else b.alias("b")
    bSide.join(a.alias("a"), cond)
      .filter(round(dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")), 6) >= tau)
      .select(col("b.id").as("id")).distinct()
  }

  /** `broadcastDropped`: ingest paths only (dropped ⊆ the batch's ids);
    * corpus-scale callers leave the join to the planner. */
  private def withKeepFlag(assigned: DataFrame, dropped: DataFrame,
                           broadcastDropped: Boolean = false): DataFrame = {
    val d = dropped.withColumn("_drop", lit(true))
    assigned.join(if (broadcastDropped) broadcast(d) else d, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("_drop"), lit(false)).unary_!.as("keep"))
  }

  /**
   * Ingest-time twin of [[semanticDedup]]: score an `incoming` batch
   * against an already-deduplicated `corpus` without ever re-deduping
   * the corpus. The quantizer is trained on the CORPUS ONLY (frozen
   * model — an ingest must not shift cluster boundaries under earlier
   * decisions). An incoming row is dropped when its cluster holds a
   * ≥ `tau`-cosine corpus row (any id) or a lower-id ≥ `tau` incoming
   * row (the keep-first rule within the batch). Returns
   * `(id, cid, keep)` for the incoming rows only. Empty corpus
   * degenerates to [[semanticDedup]] over the batch.
   *
   * Scale shape: both sides are assigned map-side against the literal
   * quantizer; the cluster joins shuffle on `cid` only. Persist the
   * assigned corpus `(id, cid, v, n)` partitioned by `cid` as the
   * semantic index and the per-ingest cost reduces to shuffling the
   * (small) incoming batch — the same amortization as
   * [[graft.operators.Dedup.incrementalDedup]]'s fingerprint store.
   */
  def semanticDedupIncremental(incoming: DataFrame, corpus: DataFrame,
                               idCol: String, vecCol: String, tau: Double,
                               nCentroids: Int = 16,
                               trainIters: Int = 0): DataFrame = {
    val cents = trainQuantizer(corpus, idCol, vecCol, nCentroids, trainIters)
    if (cents.isEmpty)
      return semanticDedup(incoming, idCol, vecCol, tau, nCentroids, trainIters)
    val corpusA = assignTo(cents)(prepVecs(corpus, idCol, vecCol))
      .select(col("id").as(idCol), col("v").as(vecCol), col("cid"))
    semanticDedupIncrementalAssigned(incoming, corpusA, idCol, vecCol, cents, tau)
  }

  /**
   * The amortized ingest path: [[semanticDedupIncremental]] against a
   * PRE-ASSIGNED corpus (`idCol`, `vecCol`, `cid` columns — e.g. the
   * persisted output of earlier ingests) under a frozen quantizer. No
   * corpus re-assignment and no quantizer re-derivation per batch: the
   * per-ingest cost is assigning the (small) batch map-side plus the
   * cluster-keyed joins. Store the corpus partitioned/bucketed by `cid`
   * and the join co-locates too. The batch is assigned through
   * `assignTo`, which switches to the broadcast argmax above
   * `literalCellLimit` cells.
   */
  def semanticDedupIncrementalAssigned(incoming: DataFrame,
                                       corpusAssigned: DataFrame,
                                       idCol: String, vecCol: String,
                                       cents: Array[(Long, Seq[Double], Double)],
                                       tau: Double): DataFrame =
    ingestScreen(assignTo(cents)(prepVecs(incoming, idCol, vecCol)),
      assignedBatchShape(corpusAssigned, idCol, vecCol), tau)

  /** (id, v, n, cid) shape from an assigned `(idCol, vecCol, cid)`
    * frame — the internal screen shape. */
  private def assignedBatchShape(assigned: DataFrame, idCol: String,
                                 vecCol: String): DataFrame =
    assigned
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"), col("cid"))
      .withColumn("n", norm2(col("v")))

  /** The shared ingest screen over pre-assigned (id, v, n, cid) frames:
    * drop a batch row with a ≥ tau same-cell corpus neighbor (any id)
    * or a lower-id ≥ tau same-cell batch neighbor. */
  private def ingestScreen(incA: DataFrame, corpusA: DataFrame,
                           tau: Double): DataFrame = {
    val dropped = tauNeighbors(incA, corpusA, tau, lowerIdOnly = false,
        broadcastB = true)
      .union(tauNeighbors(incA, incA, tau, lowerIdOnly = true,
        broadcastB = true)).distinct()
    withKeepFlag(incA, dropped, broadcastDropped = true)
  }

  /**
   * Persist a pre-assigned corpus ([[assignToQuantizer]] /
   * [[semanticDedupIncrementalAssigned]] shape) PARTITIONED BY `cid` —
   * the layout that makes the per-ingest probe sublinear in corpus
   * size: [[semanticDedupIncrementalStored]] pushes the batch's cell
   * set into the scan as a partition filter, so cells the batch does
   * not touch are never read. With the √n auto quantizer a fixed-size
   * batch touches at most |batch| of ~√n cells, so the probed fraction
   * SHRINKS as the corpus grows (≤ 22% at 20M vectors for a 1000-vector
   * batch) — the missing piece between the flat-shape soak evidence and
   * a genuinely sublinear ingest at 100 TB.
   */
  def writeAssignedCorpus(corpusAssigned: DataFrame, path: String,
                          idCol: String, vecCol: String): Unit =
    // repartition by cid first: a raw partitionBy write emits up to
    // (input partitions × cells) files — 22k for 16×1414 in the first
    // round-10 cid-store run (PLANS.md) — and the read side then pays
    // per-file open cost; one shuffle at write time buys one file per cell
    corpusAssigned.select(col(idCol), col(vecCol), col("cid"))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /**
   * [[semanticDedupIncrementalAssigned]] against a corpus persisted by
   * [[writeAssignedCorpus]]: the batch assigns map-side, its DISTINCT
   * cell ids (bounded by min(|batch|, centroids) — a model-parameter-
   * sized collect) become an `isin` partition filter on the corpus
   * read, and only the touched cells flow into the probe join. Same
   * output as the unpruned form (a corpus row outside the batch's
   * cells can never be a same-cell neighbor — spec-pinned equivalence),
   * strictly less I/O.
   */
  def semanticDedupIncrementalStored(incoming: DataFrame, corpusPath: String,
                                     idCol: String, vecCol: String,
                                     cents: Array[(Long, Seq[Double], Double)],
                                     tau: Double): DataFrame = {
    // ONE assignment, materialized: the cell-set collect and the screen
    // must observe the SAME batch rows — with two independent
    // evaluations of a non-deterministic or re-read `incoming`, the
    // collected cell set could disagree with the screened rows and
    // corpus neighbors in unlisted cells would be silently missed
    // (ADVICE r10). The batch is ingest-bounded by contract, so the
    // eager localCheckpoint is small.
    val incA = assignedBatchShape(
      assignToQuantizerBroadcast(incoming, idCol, vecCol, cents),
      idCol, vecCol).localCheckpoint()
    val batchCells = incA.select(col("cid")).distinct()
      .collect().map(_.getLong(0))
    // cast: partition-column type inference narrows small cid values to
    // int on read; the assigned-corpus contract is long
    val corpusA = incoming.sparkSession.read.parquet(corpusPath)
      .filter(col("cid").isin(batchCells: _*))
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"),
        col("cid").cast("long"))
      .withColumn("n", norm2(col("v")))
    ingestScreen(incA, corpusA, tau)
  }

  /**
   * Embedding-level decontamination — the semantic twin of
   * [[graft.operators.TextAnalysis.contaminationCheck]]: flag every
   * corpus row whose vector has a ≥ `tau`-cosine neighbor in the
   * benchmark set. By DEFAULT the screen is EXHAUSTIVE — no clustering,
   * no recall loss: eval leakage is checked against every benchmark
   * vector. This is a safety screen, so the approximate regime is
   * strictly OPT-IN: pass a finite `prefilterBenchRows` and, when the
   * benchmark exceeds it (a full benchmark SUITE, not an eval slice),
   * the IVF-cell prefilter engages — corpus rows map-side-assign to a
   * frozen √n quantizer's cells, each benchmark vector probes its
   * `cellProbes` nearest cells, and the cosine screen runs per cell:
   * the per-corpus-row compare set drops from |benchmark| to the probes
   * in its own cell (the standard IVF recall trade; `cellProbes >=
   * nCentroids` restores exactness). The switch to the approximate
   * regime is logged at WARN so a run's verdicts are auditable.
   *
   * `corpusCells` (approximate regime only) assigns each corpus row to
   * its top-m cells instead of just the argmax — a boundary-parked
   * τ-neighbor is then reachable through either cell. Recall at low tau
   * improves from ~0.6 to ≥0.9 at m = 2–4 on the planted fixture
   * (`SimilaritySpec`); cost is m-linear in the probe join plus one
   * (id, bid, cos)-triple dedup exchange, still flat in |benchmark|.
   *
   * Returns `(id, n_hits, max_cos, clean)` per corpus row (`max_cos`
   * null when clean); callers drop `clean = false` rows or audit them.
   *
   * Laziness: with the default (exhaustive) setting the call only
   * builds a plan. A finite `prefilterBenchRows` runs EAGER actions at
   * call time — the benchmark row-count probe, and quantizer training
   * when the prefilter engages; the prepped benchmark frame is
   * `localCheckpoint`ed first so its lineage executes once, not again
   * inside the join.
   *
   * Scale shape (both regimes): the benchmark side broadcasts
   * whole, the pair screen is a map-side broadcast join over the
   * corpus, and the per-row verdict is one partial+final aggregate on
   * `id`. The corpus shuffles once, carrying (id, hit-cos) pairs — not
   * vectors.
   */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            tau: Double,
                            prefilterBenchRows: Long = Long.MaxValue,
                            cellProbes: Int = 4,
                            corpusCells: Int = 1): DataFrame = {
    val c = prepVecs(corpus, idCol, vecCol)
    val pairCos = round(dot(col("v"), col("bv")) / (col("n") * col("bn")), 6)
    def exactPairs(b: DataFrame): DataFrame =
      c.join(broadcast(b.select(col("v").as("bv"), col("n").as("bn"))),
          pairCos >= tau)
        .select(col("id"), pairCos.as("cos"))
    // (id, cos) per τ-pair, deduplicated; the regimes differ only here.
    val pairHits =
      if (prefilterBenchRows == Long.MaxValue)
        exactPairs(prepVecs(bench, idCol, vecCol))
      else {
        // Caller opted into the size-gated regime — materialize the
        // prepped benchmark once (probe + join reuse it), then pick.
        val b = prepVecs(bench, idCol, vecCol).localCheckpoint()
        val nBench = b.limit(
          math.min(prefilterBenchRows, Int.MaxValue - 1L).toInt + 1).count()
        if (nBench <= prefilterBenchRows) exactPairs(b)
        else {
          // IVF-cell prefilter: corpus rows map-side-assign to their
          // top-`corpusCells` cells (√n auto-sized frozen quantizer, zero
          // corpus shuffle); each benchmark vector probes its `cellProbes`
          // nearest cells — the broadcast equi-join on cid then compares a
          // corpus row against only the probes that landed in ITS cells.
          // Approximate by construction (a τ-neighbor parked across an
          // unprobed cell boundary is missed — the standard IVF recall
          // trade); cellProbes >= nCentroids degenerates to the exact
          // screen. Recall vs the exact form is pinned in SimilaritySpec.
          log.warn(
            s"semanticDecontaminate: benchmark exceeds prefilterBenchRows=" +
              s"$prefilterBenchRows — switching to the APPROXIMATE IVF-cell " +
              s"regime (cellProbes=$cellProbes, corpusCells=$corpusCells); " +
              "verdicts may contain false negatives")
          val cents = trainCentroids(c, resolveNCentroids(c, -1), 0)
          if (cents.isEmpty)
            c.filter(lit(false)).select(col("id"), lit(0.0).as("cos"))
          else {
            val topCells = math.max(1, math.min(corpusCells, cents.length))
            val assigned =
              if (topCells == 1) assignTo(cents)(c)
              else c.withColumn("cc", explode(slice(
                  sort_array(centScoresFor(cents)(col("v"), col("n")),
                    asc = false), 1, topCells)))
                .withColumn("cid", -col("cc.negcid")).drop("cc")
            val probes =
              probeCells(b, cents, math.min(cellProbes, cents.length))
                .select(col("cid"), col("id").as("bid"),
                  col("v").as("bv"), col("n").as("bn"))
            val raw = assigned.join(broadcast(probes), Seq("cid"))
              .filter(pairCos >= tau)
            if (topCells == 1)
              // each corpus row holds ONE cid and probe cells are
              // distinct, so every (corpus, bench) pair meets ≤ once
              raw.select(col("id"), pairCos.as("cos"))
            else
              // a pair can meet through up to min(m, probes) shared
              // cells — collapse on (id, bid) before counting (partial
              // aggregation combines map-side; the exchange carries
              // (id, bid, cos) triples only)
              raw.groupBy(col("id"), col("bid"))
                .agg(max(pairCos).as("cos")).drop("bid")
          }
        }
      }
    val hits = pairHits.groupBy("id").agg(
      count(lit(1)).as("n_hits"),
      max(col("cos")).as("max_cos"))
    c.select(col("id")).join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_cos"),
        col("n_hits").isNull.as("clean"))
  }
}
