package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/**
 * Quantizer drift on the IVF-PQ append path, measured and bounded — the
 * trade-off `appendToPqIndex` documents, now with numbers and a tested
 * rebuild trigger:
 *
 *  - increments drawn from the BUILD distribution append with planted-
 *    group recall at 1.0 and a residual indistinguishable from the
 *    build-time baseline (appending is safe while the distribution
 *    holds);
 *  - increments drawn from a progressively SHIFTED distribution (mass
 *    rotating into subspace dimensions the codebooks never saw) raise
 *    the mean reconstruction residual monotonically, and planted-group
 *    recall collapses at high shift — the damage the drift caveat
 *    warns about;
 *  - the staleness signal (`pqResidualStats` vs the build baseline,
 *    packaged as `pqAppendIsStale`) fires BEFORE the recall floor
 *    breaks: every increment whose recall is broken is flagged stale,
 *    and the unshifted increment is not — so acting on the trigger
 *    prevents serving degraded results;
 *  - rebuilding over the accumulated corpus restores recall on the
 *    shifted groups and brings the residual back under the trigger —
 *    the documented recovery path.
 */
class PqDriftSpec extends SparkSuite {

  import spark.implicits._

  private val dim = 8
  private val groupSize = 20

  /** One increment: 4 planted groups of near-copies whose anchors put
    * `1 - shift` of their mass in the build subspace (dims 0-3, one hot
    * per group) and `shift` in dims 4-7 — shift = 0 is the build
    * distribution, shift = 1 is fully outside it. Deterministic jitter
    * keeps members near-dup but distinct. */
  private def increment(idBase: Long, shift: Double): DataFrame = {
    val rows = for {
      g <- 0 until 4
      i <- 0 until groupSize
    } yield {
      val vec = Array.tabulate(dim) { d =>
        val anchor =
          if (d == g) 10.0 * (1.0 - shift)
          else if (d == g + 4) 10.0 * shift
          else 0.0
        val jitter = ((idBase + g * groupSize + i) * 31 + d * 7) % 13 / 1300.0
        (anchor + jitter).toFloat
      }
      (idBase + g * groupSize + i, vec)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** Planted recall for one increment: each group's first member queries
    * the accumulated corpus; every query has ≥ k true near-dups (its 19
    * group-mates, cos ≈ 1), so recall = fraction of the 4k returned
    * neighbors that are genuinely near (exact re-ranked cos ≥ 0.99). A
    * healthy shortlist returns only group-mates (recall 1.0); a drift-
    * broken shortlist fills with cross-group noise (cos ≈ 0). Neighbor
    * IDENTITY is not asserted — build-corpus twins of an unshifted
    * increment tie at cos ≈ 1 and are equally correct answers. */
  private def recall(model: Similarity.PqModel, index: DataFrame,
                     corpus: DataFrame, idBase: Long): Double = {
    val k = 5
    val queryPred = (col("vec_id") >= idBase) && (col("vec_id") < idBase + 4L * groupSize) &&
      ((col("vec_id") - idBase) % groupSize === 0)
    val res = Similarity.searchPqIndex(model, index, corpus,
        "vec_id", "embedding", queryPred, k = k, nProbe = 1)
      .select(col("cos")).as[Double].collect()
    res.count(_ >= 0.99).toDouble / (4 * k)
  }

  private def meanResidual(model: Similarity.PqModel, df: DataFrame): Double =
    Similarity.pqResidualStats(model, df, "vec_id", "embedding")
      .select(col("mean_residual")).head().getDouble(0)

  test("append drift: residual signal fires before planted recall breaks; rebuild recovers") {
    val build = increment(0L, shift = 0.0)
    val (model, index0) = Similarity.buildPqIndex(build, "vec_id", "embedding",
      nCentroids = 4, m = 2, kSub = 16, trainIters = 2, pqIters = 2)
    val baseline = meanResidual(model, build)

    // increments one decade of drift at a time; ids stay disjoint
    val shifts = Seq(0.0, 0.25, 0.5, 0.9)
    var corpus = build
    var index = index0
    val results = shifts.zipWithIndex.map { case (s, b) =>
      val idBase = 1000L * (b + 1)
      val inc = increment(idBase, s)
      val stale = Similarity.pqAppendIsStale(model, baseline, inc,
        "vec_id", "embedding")
      index = Similarity.appendToPqIndex(model, index, inc,
        "vec_id", "embedding")
      corpus = corpus.unionByName(inc)
      val r = recall(model, index, corpus, idBase)
      val res = meanResidual(model, inc)
      info(f"[drift] shift=$s%.2f residual=$res%.4f (baseline $baseline%.4f) " +
        f"stale=$stale recall=$r%.2f")
      (s, res, stale, r)
    }

    // (1) same-distribution append: not stale, perfect planted recall
    val (_, res0, stale0, recall0) = results.head
    assert(!stale0, "unshifted increment must not trip the trigger")
    assert(recall0 === 1.0, "unshifted planted recall must be perfect")
    assert(math.abs(res0 - baseline) < 0.02,
      "unshifted residual must sit at the build baseline")

    // (2) degradation curve: residual grows monotonically with shift
    val residuals = results.map(_._2)
    assert(residuals.zip(residuals.tail).forall { case (a, b) => b > a },
      s"residual must grow with drift: $residuals")

    // (3) the trigger LEADS the damage: every recall-broken increment
    // was flagged stale before its vectors were appended
    val floor = 0.8
    results.foreach { case (s, _, stale, r) =>
      if (r < floor)
        assert(stale, f"recall broke at shift=$s%.2f ($r%.2f) without the " +
          "staleness trigger firing first")
    }
    assert(results.exists { case (_, _, stale, r) => stale && r < floor },
      "fixture must actually demonstrate drift damage at high shift")

    // (4) rebuild over the accumulated corpus: shifted groups recover
    // and the residual drops back under the trigger
    // 20 natural clusters in the accumulated corpus (5 subsets x 4
    // groups) — give the rebuilt quantizer one centroid per cluster
    val (model2, index2) = Similarity.buildPqIndex(corpus, "vec_id",
      "embedding", nCentroids = 20, m = 2, kSub = 16,
      trainIters = 3, pqIters = 2)
    val worstBase = 1000L * shifts.length // the shift=0.9 increment
    val recovered = recall(model2, index2, corpus, worstBase)
    info(f"[drift] post-rebuild recall on the worst increment: $recovered%.2f")
    assert(recovered >= floor,
      f"rebuild must restore planted recall on the drifted groups " +
        f"(got $recovered%.2f)")
    val baseline2 = meanResidual(model2, corpus)
    assert(!Similarity.pqAppendIsStale(model2, baseline2,
        increment(90000L, 0.9), "vec_id", "embedding"),
      "after rebuild, the drifted distribution must no longer read stale")
  }

  test("managed handle: drifted append rebuilds through the cached path, recall restored") {
    // the session-lifetime handle (the r11 cache seam): appends consult
    // the staleness signal instead of leaving it to the caller
    val handle = Similarity.managedPqIndex(increment(0L, 0.0),
      "vec_id", "embedding", nCentroids = 12, m = 2, kSub = 16,
      trainIters = 3, pqIters = 2)
    handle.append(increment(1000L, 0.0))
    assert(handle.rebuilds === 0, "in-distribution append must NOT rebuild")
    // a drifted increment fires the stale check ON THE CACHED HANDLE and
    // rebuilds over the accumulated corpus instead of appending against
    // the stale model (the r10 gap: the signal existed, nothing cached
    // consulted it)
    val driftBase = 2000L
    handle.append(increment(driftBase, 0.9))
    assert(handle.rebuilds === 1, "drift-stale append must trigger a rebuild")
    val k = 5
    val queryPred = (col("vec_id") >= driftBase) &&
      (col("vec_id") < driftBase + 4L * groupSize) &&
      ((col("vec_id") - driftBase) % groupSize === 0)
    val res = handle.search(queryPred, k = k, nProbe = 1)
      .select(col("cos")).as[Double].collect()
    val r = res.count(_ >= 0.99).toDouble / (4 * k)
    info(f"[managed] post-rebuild recall on the drifted increment: $r%.2f")
    assert(r >= 0.8,
      f"rebuild through the handle must restore planted recall (got $r%.2f)")
    // the serving-shape point query (r15) is bit-equal to the predicate
    // form for the same single id — through the cached handle
    val qid = driftBase
    val want = handle.search(col("vec_id") === qid, k = k, nProbe = 2)
      .collect().map(_.toSeq).toSet
    val got = handle.searchPoint(qid, k = k, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(got === want,
      "searchPoint must equal search(col === id) through the handle")
  }
}
