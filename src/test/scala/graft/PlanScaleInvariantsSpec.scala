package graft

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphRank, Relevance, RobustStats, Similarity, TextAnalysis}

/**
 * Plan-shape flatness as a CI CONTRACT (the round-9 lesson made standing):
 * both real round-9 finds — AQE demoting the minhash verify join into a
 * full corpus-text shuffle at 5M docs, and AQE erasing checkpoint
 * partitioning inside `resolveClusters` — were plan-shape regressions
 * invisible at gate scale and only caught by soaking a decade up. This
 * spec makes the invariant executable at test scale:
 *
 * Each scale-sensitive family runs at TWO in-test scales (1× and 20×)
 * under an ADVERSARIAL broadcast regime — `autoBroadcastJoinThreshold`
 * and its AQE twin set to -1 — which simulates at tiny data exactly what
 * growing data does at 100 TB: the planner withdraws every broadcast the
 * code did not explicitly claim. Under that regime the assertions are
 * strict equalities:
 *
 *  - TOTAL shuffle-exchange count across all actions must not grow with
 *    scale (growth = the plan re-planned itself into a different, worse
 *    algorithm — e.g. a per-ingest-sized probe join demoting to a
 *    corpus-wide sort-merge join);
 *  - TOTAL broadcast-exchange count must not shrink with scale (every
 *    scale-critical broadcast must be an explicit hint, so none can be
 *    withdrawn by a threshold);
 *  - map-only families must show ZERO shuffles at every scale.
 *
 * Counts come from a QueryExecutionListener over the EXECUTED plans of
 * every action the operator triggers (AQE's final plan, not the initial
 * one — runtime demotions are exactly what we're hunting), so internal
 * model collects are audited along with the main query. The pre-fix
 * round-9 verify join fails the broadcast equality here (it relied on the
 * auto threshold); the pre-fix resolveClusters loop fails the stage-count
 * equality below (AQE-erased checkpoint partitioning re-shuffles each
 * round).
 */
class PlanScaleInvariantsSpec extends SparkSuite {

  import spark.implicits._

  // ---- deterministic in-test corpora -----------------------------------

  /** Document corpus: seeded word soup, every 7th doc an exact dup of its
    * predecessor and every 11th a near-dup (one token appended), so the
    * screens exercise their exact-hit and banded-candidate paths. */
  private def docCorpus(n: Int): DataFrame = {
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(60)(i => s"w${i}q${(i * 7) % 13}")
    val base = Array.tabulate(n) { i =>
      val words = Seq.fill(12)(vocab(rnd.nextInt(vocab.length)))
      (i.toLong, words.mkString(" "))
    }
    val rows = base.map { case (id, t) =>
      if (id % 7 == 3 && id > 0) (id, base((id - 1).toInt)._2)
      else if (id % 11 == 5 && id > 0) (id, base((id - 1).toInt)._2 + " extra")
      else (id, t)
    }
    spark.sparkContext.parallelize(rows.toIndexedSeq, 4).toDF("doc_id", "text")
  }

  /** Fixed-size ingest batch against any corpus: 40 docs, half exact
    * copies of corpus heads (exact-star path), half mutated (banded
    * candidate + verify path). Ids above any corpus id (ingest-order
    * contract). */
  private def ingestBatch(corpus: DataFrame): DataFrame =
    corpus.filter(col("doc_id") < 40)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
      .withColumn("text",
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" zz9")))
          .otherwise(col("text")))

  /** Embedding corpus: dim-8 deterministic vectors. */
  private def vecCorpus(n: Int): DataFrame = {
    val rows = Array.tabulate(n) { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d) + 0.01 * d))
    }
    spark.sparkContext.parallelize(rows.toIndexedSeq, 4)
      .toDF("vec_id", "embedding")
  }

  // ---- measurement harness ---------------------------------------------

  /** Total (shuffles, broadcasts, actions) across the EXECUTED plan of
    * every action — the shared SoakAudit harness (AQE-final plans via
    * QueryExecutionListener, bus drained before reading). */
  private def actionShapes(f: => Unit): (Int, Int, Int) =
    graft.apps.SoakAudit.actionShapes(spark)(f)

  /** Run `f` with every auto-broadcast threshold disabled — the planner
    * grants ONLY explicit broadcast hints, simulating corpus sides that
    * outgrew the threshold. Restores defaults afterwards (session is
    * shared across suites). */
  private def noAutoBroadcast[A](f: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    try { keys.foreach(spark.conf.set(_, "-1")); f }
    finally keys.foreach(spark.conf.unset)
  }

  /** Assert the two-scale contract on an operator runner: shuffles must
    * not grow, broadcasts must not shrink, action count must match (a
    * changed action count means the code path itself branched on size —
    * compare like with like before comparing shapes). */
  private def assertFlat(family: String, pinned: (Int, Int))(
      run: DataFrame => Unit)(mk: Int => DataFrame): Unit = noAutoBroadcast {
    val (sh1, bc1, n1) = actionShapes(run(mk(200)))
    val (sh20, bc20, n20) = actionShapes(run(mk(4000)))
    // Absolute pin: cross-scale equality alone cannot see a DROPPED
    // explicit broadcast hint — under the no-auto regime both scales
    // demote identically, staying "flat" while the production plan lost
    // its scale-critical broadcast. The pinned counts make that loud: a
    // hint removed shows as shuffles+1 / broadcasts-1 here. If a
    // deliberate refactor changes the plan, update the pin consciously.
    // PIN PROVENANCE: all absolute (shuffles, broadcasts) pins in this
    // suite were derived under Spark 4.1.2 / AQE on / shuffle
    // partitions = session default. A Spark upgrade can legitimately
    // move every pin at once with zero repo regression — on upgrade,
    // re-derive each pin consciously (run the suite, read the `info`
    // lines, confirm the relative invariants still hold) rather than
    // chasing them one test at a time. (ADVICE r10.)
    assert((sh1, bc1) === pinned,
      s"$family: plan shape (${sh1} shuffles, ${bc1} broadcasts) departed " +
        s"from the pinned contract $pinned — if this refactor is " +
        "intentional, re-derive and update the pin")
    info(s"[$family] 1x: $sh1 shuffles / $bc1 broadcasts over $n1 actions; " +
      s"20x: $sh20 / $bc20 over $n20")
    // Counting-harness guard: these families genuinely shuffle (stores
    // group by fp, screens aggregate) — an all-zero reading means the
    // exchange walk went blind (the round-10 QueryStageExec find), which
    // would green every contract trivially.
    assert(sh1 > 0, s"$family: zero shuffles measured — exchange counting broke")
    assert(n20 === n1, s"$family: action count changed with scale")
    assert(sh20 <= sh1,
      s"$family: shuffle-exchange count GREW with data scale ($sh1 -> $sh20)" +
        " — the plan re-planned itself into a different algorithm")
    assert(bc20 >= bc1,
      s"$family: a broadcast DEMOTED with data scale ($bc1 -> $bc20 " +
        "broadcasts) — a scale-critical broadcast is not an explicit hint")
  }

  // ---- the contracts ---------------------------------------------------

  test("minhash incremental screen: plan shape flat 1x -> 20x, no auto-broadcast") {
    assertFlat("minhash_inc", (6, 6)) { corpus =>
      val store = Dedup.minhashStore(corpus, "doc_id", "text")
      val pairs = Dedup.minhashLshPairsIncremental(ingestBatch(corpus), store,
        corpus, "doc_id", "text", tau = 0.5)
      assert(pairs.count() > 0)
    }(docCorpus)
  }

  test("simhash incremental screen: plan shape flat 1x -> 20x, no auto-broadcast") {
    assertFlat("simhash_inc", (7, 5)) { corpus =>
      val store = Dedup.simhashStore(corpus, "doc_id", "text")
      val pairs = Dedup.simhashPairsIncremental(ingestBatch(corpus), store,
        "doc_id", "text", maxHamming = 8)
      assert(pairs.count() > 0)
    }(docCorpus)
  }

  test("edit-distance neighborhood: plan shape flat 1x -> 20x, no auto-broadcast") {
    // the r11 deletion-neighborhood path (maxDist <= 2), dedup-then-
    // expand form: distinct-string groupBy + intra-group equality
    // self-join + ONE (blk, variant-hash) groupBy whose buckets emit
    // within-bucket pairs in-expression, levenshtein-verified map-side
    // BEFORE any dedup shuffle + two member-expansion joins — 8
    // shuffles, all sized by distinct strings / true output (the
    // pre-expand form was (3,0) but amplified the variant join by
    // group² × variants on duplicate-heavy corpora; the join-based
    // expand form shuffled the ~170×-amplified candidate stream);
    // count must not grow with the table
    def nameCorpus(n: Int): DataFrame =
      spark.range(n.toLong).select(col("id"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0"))
          .as("name"),
        (col("id") % 25).as("blk"))
    assertFlat("fuzzy_neighborhood", (8, 0)) { corpus =>
      assert(Dedup.editDistancePairs(corpus, "id", "name", "blk",
        maxDist = 1).count() >= 0)
    }(nameCorpus)
  }

  test("TF-IDF cosine pairs (capped regime): plan shape flat 1x -> 20x, no auto-broadcast") {
    // dedup-then-expand APSS (r12): fingerprint collapse window, tf/df
    // aggregations, in-order-fold norms, capped postings self-join,
    // pair fold, member expansions — count must not move with corpus
    // size (drive through a verdict-style aggregate so nothing prunes).
    // Corpus NOTE: docCorpus's fixed 60-word vocabulary makes every df
    // grow linearly with n, so a fixed cap either empties the postings
    // (AQE empty-relation propagation then collapses the whole plan —
    // found deriving this pin) or stops binding; this corpus gives each
    // doc rare neighbor-shared terms (df ≤ 3 at every scale, kept) plus
    // three common terms (df = n/3, capped) so BOTH regimes stay
    // exercised at both scales. Every 13th doc duplicates its
    // predecessor so the intra (identical-text) branch runs too.
    def cosCorpus(n: Int): DataFrame = {
      val base = Array.tabulate(n)(i =>
        (i.toLong, s"r$i r${i + 1} r${i + 2} c${i % 3} c${(i + 1) % 3}"))
      val rows = base.map { case (id, t) =>
        if (id % 13 == 4 && id > 0) (id, base((id - 1).toInt)._2) else (id, t)
      }
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4)
        .toDF("doc_id", "text")
    }
    // CAPPED regime: the prefix filter is policy-off (the cap already
    // dropped the postings it would absorb — stacking measured 2.4×
    // pure overhead), so this is the r12 join-fold shape.
    assertFlat("cosine_pairs", (20, 1)) { corpus =>
      assert(Relevance.cosinePairs(corpus, "doc_id", "text",
          tau = 0.1, maxDf = 10L)
        .groupBy(col("cos_r")).agg(count(lit(1))).count() > 0)
    }(cosCorpus)
    // UNCAPPED regime: the Bayardo/L2AP prefix filter engages — maxw
    // aggregate, per-vector bound window, candidate distinct, and the
    // per-pair completion join add exchanges, each sized by candidates
    // and prefix length instead of Σ df² over full postings.
    assertFlat("cosine_pairs_uncapped", (32, 1)) { corpus =>
      assert(Relevance.cosinePairs(corpus, "doc_id", "text", tau = 0.35)
        .groupBy(col("cos_r")).agg(count(lit(1))).count() > 0)
    }(cosCorpus)
  }

  test("corrMatrix: ONE corpus aggregation regardless of feature-pair count") {
    // ADVICE r12: the union-per-pair form planned the moment aggregate
    // C(k,2) times and relied on exchange reuse to dedupe it — an
    // optimizer behavior, not a contract. The r13 explode-over-one-row
    // form makes single-scan STRUCTURAL: exactly one shuffle (the global
    // aggregate's single-partition exchange) at both widths — 3 features
    // (3 pairs) and 12 features (66 pairs).
    def featCorpus(k: Int): DataFrame =
      spark.range(500L).select((0 until k).map(i =>
        ((col("id") * (i + 3)) % (17 + i)).as(s"f$i")): _*)
    for (k <- Seq(3, 12)) {
      val (sh, _, _) = actionShapes {
        assert(RobustStats.corrMatrix(featCorpus(k),
          (0 until k).map(i => s"f$i")).collect().length === k * (k - 1) / 2)
      }
      assert(sh === 1, s"corrMatrix at $k features: expected the single " +
        s"aggregate exchange, measured $sh shuffles")
    }
  }

  test("per-group cut joins: the cuts broadcast is an explicit hint, flat 1x -> 20x") {
    // VERDICT r13 #5: binsByAt/clampByAt relied on the PLANNER to
    // broadcast the one-row-per-group cuts frame — a courtesy the size
    // estimate could withdraw, silently re-shuffling the corpus. The
    // r14 explicit broadcast hint makes it a contract; under the
    // no-auto-broadcast regime these pins prove the hint (not the
    // threshold) carries the join.
    def grouped(n: Int): DataFrame = {
      val rnd = new scala.util.Random(5)
      spark.sparkContext.parallelize(
        IndexedSeq.tabulate(n)(i => (i.toLong, s"lang${i % 7}",
          rnd.nextDouble() * 100, rnd.nextGaussian())), 4)
        .toDF("id", "lang", "f1", "f2")
    }
    assertFlat("group_bins", (2, 1)) { df =>
      RobustStats.quantileBinsBy(df, "id", "lang", Seq("f1", "f2"),
          nBins = 4)
        .groupBy(col("f1_bin")).agg(count(lit(1)).as("n"))
        .collect(); ()
    }(grouped)
    assertFlat("group_clamp", (2, 1)) { df =>
      RobustStats.winsorizeBy(df, "id", "lang", Seq("f1"))
        .agg(sum(col("f1_w")).as("s")).collect(); ()
    }(grouped)
  }

  test("semantic ingest: plan shape flat 1x -> 20x, no auto-broadcast") {
    assertFlat("semantic_inc", (4, 2)) { corpus =>
      val incoming = corpus.filter(col("vec_id") < 30)
        .withColumn("vec_id", col("vec_id") + lit(10000000L))
      val out = Similarity.semanticDedupIncremental(incoming, corpus,
        "vec_id", "embedding", tau = 0.95, nCentroids = 8)
      // grouped-aggregate drive: a bare count() of the keep frame lets
      // Catalyst ELIMINATE the whole screen (left join with unique right
      // keys, keep column pruned) — the decontamDrive lesson
      assert(out.groupBy(col("keep")).agg(count(lit(1))).count() > 0)
    }(vecCorpus)
  }

  test("stored semantic ingest: plan shape flat 1x -> 20x, no auto-broadcast") {
    // the cid-partitioned persisted-store path (r10): same contract as
    // its in-plan sibling — the pruned corpus scan plus ingest-bounded
    // broadcast joins must keep their shape as the store grows
    assertFlat("semantic_stored", (6, 2)) { corpus =>
      val cents = Similarity.trainQuantizer(corpus, "vec_id", "embedding",
        nCentroids = 8)
      val dir = java.nio.file.Files.createTempDirectory("psi_cid").toString
      Similarity.writeAssignedCorpus(
        Similarity.assignToQuantizerBroadcast(corpus, "vec_id", "embedding",
          cents), dir, "vec_id", "embedding")
      val incoming = corpus.filter(col("vec_id") < 30)
        .withColumn("vec_id", col("vec_id") + lit(10000000L))
      val out = Similarity.semanticDedupIncrementalStored(incoming, dir,
        "vec_id", "embedding", cents, tau = 0.95)
      assert(out.groupBy(col("keep")).agg(count(lit(1))).count() > 0)
    }(vecCorpus)
  }

  test("semantic decontamination (exact regime): plan shape flat 1x -> 20x") {
    assertFlat("decontam_exact", (4, 1)) { corpus =>
      val bench = corpus.filter(col("vec_id") % 37 === 0)
        .withColumn("vec_id", col("vec_id") + lit(10000000L))
      // grouped aggregate drive — a bare count() is join-cardinality-
      // preserving and lets Catalyst skip the screen (SoakAudit lesson)
      val verdicts = Similarity.semanticDecontaminate(corpus, bench,
          "vec_id", "embedding", tau = 0.99)
        .groupBy(col("clean")).agg(sum(col("n_hits")).as("h"))
      assert(verdicts.count() > 0)
    }(vecCorpus)
  }

  test("random projection stays map-only at every scale: zero shuffles") {
    noAutoBroadcast {
      Seq(200, 4000).foreach { n =>
        val (sh, _, _) = actionShapes {
          Similarity.randomProjection(vecCorpus(n), "vec_id", "embedding",
            outDim = 8).write.format("noop").mode("overwrite").save()
        }
        assert(sh === 0,
          s"randomProjection must be map-only; saw $sh shuffles at n=$n")
      }
    }
  }

  test("filtered IVF: plan shape flat 1x -> 20x, no auto-broadcast") {
    // shared full-corpus quantizer, predicate into the corpus scan, probes
    // explicitly broadcast — the corpus must never shuffle before the rank
    assertFlat("ivf_filtered", (2, 1)) { corpus =>
      val labeled = corpus.withColumn("label", (col("vec_id") % 2).cast("int"))
      assert(Similarity.ivfTopKWhere(labeled, "vec_id", "embedding",
        col("id") % 50 === 0, col("label") === 1, k = 3,
        nCentroids = 8, nProbe = 4).count() >= 0)
    }(vecCorpus)
  }

  test("text family stays map-only at every scale: zero shuffles") {
    noAutoBroadcast {
      Seq(200, 4000).foreach { n =>
        val (sh, _, _) = actionShapes {
          // per-doc projection drive: no groupBy of our own, so any
          // shuffle belongs to the operator (count()'s final single-
          // partition agg exchange is excluded by driving via noop write)
          TextAnalysis.qualityScore(docCorpus(n), "text")
            .write.format("noop").mode("overwrite").save()
        }
        assert(sh === 0,
          s"qualityScore must be map-only; saw $sh shuffles at n=$n")
      }
    }
  }

  test("containment screen (capped regime): plan shape flat 1x -> 20x, no auto-broadcast") {
    // the production regime is CAPPED (maxDf bounds pair volume at
    // Σ df² ≤ postings × maxDf) and DEDUP-THEN-EXPAND (set-collapse
    // window + rep-level hot-aggregate/anti-join/self-join/containment
    // groupBy + member-expansion joins for cross and intra pairs +
    // drive aggregate — every exchange sized by distinct sets or true
    // output, never the member-amplified pair stream). More exchanges
    // than the pre-collapse form's 6, but none grows a new one with
    // corpus size, which is what this contract certifies.
    // (18, 0) -> (16, 0) in r13: materializing the collapse fingerprint
    // as a column lets the rid and grp windows share ONE exchange where
    // the inline-expression form re-exchanged between them.
    // (16, 0) -> (14, 0) in r16: the lazy localCheckpoint of the
    // collapsed frame makes the rep side, the hot-cap aggregate, and
    // both member expansions read ONE materialization instead of three
    // duplicated scan+hash+window subtrees (two of whose exchanges are
    // gone); the pinned-width posting self-join repartition replaces —
    // not adds to — the join's own exchange. Derived per the pin
    // provenance note; the flatness invariants below are unchanged.
    assertFlat("containment_capped", (14, 0)) { corpus =>
      val pairs = Dedup.containmentPairs(corpus, "doc_id", "text",
        k = 3, tau = 0.3, maxDf = 64L)
      assert(pairs.groupBy(col("container_id"))
        .agg(count(lit(1))).count() >= 0)
    }(docCorpus)
  }

  test("pageRank: stage count flat at fixed iterations, 1x -> 20x") {
    // The loop compiles its own fixed shapes (AQE off, hand-derived
    // width): at a FIXED iteration count the stage count must not move
    // with graph size — growth would mean an iteration gained exchanges
    // (the AQE-erased-checkpoint-partitioning failure mode) or a
    // loop-invariant frame stopped being reused.
    def ring(k: Int): DataFrame = {
      val edges = (0 until k).map(i => (i.toLong, ((i + 1) % k).toLong))
      spark.sparkContext.parallelize(edges, 4).toDF("src", "dst")
    }
    def stages(k: Int): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new SparkListener {
        override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
          { n.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val ranks = GraphRank.pageRank(ring(k), "src", "dst", iters = 3)
        // on a symmetric-degree ring every node holds exactly scale/k
        assert(ranks.select(countDistinct(col("rank_int"))).head.getLong(0)
          === 1L, "ring ranks must be uniform")
        GraftListenerBridge.waitListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val s1 = stages(300)
    val s20 = stages(6000)
    info(s"[pageRank] stages at 1x: $s1, 20x: $s20")
    assert(s20 === s1,
      s"stage count changed with scale at fixed iters ($s1 -> $s20): " +
        "an iteration gained or lost exchanges")
  }

  test("resolveClusters SMJ tier: stage count flat at fixed diameter, 1x -> 20x") {
    // Chains of FIXED length 4 (same graph diameter at both scales, so the
    // pointer-doubling round count is identical) — only the chain COUNT
    // scales. Any stage-count growth therefore means a round gained
    // exchanges, which is exactly the AQE-erased-checkpoint-partitioning
    // failure mode round 9 caught one decade up.
    def chains(k: Int): DataFrame = {
      val edges = (0 until k).flatMap { c =>
        val b = c * 10L
        Seq((b, b + 1), (b + 1, b + 2), (b + 2, b + 3))
      }
      spark.sparkContext.parallelize(edges, 4).toDF("id_a", "id_b")
    }
    def stages(k: Int): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new SparkListener {
        override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
          { n.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val labels = Dedup.resolveClusters(chains(k),
          localEdgeThreshold = 0L, broadcastNodeLimit = 0L)
        assert(labels.filter(col("doc_id") === col("cluster_id")).count()
          === k.toLong, "one keeper per chain")
        GraftListenerBridge.waitListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      n.get
    }
    val s1 = stages(300)
    val s20 = stages(6000)
    info(s"[resolveClusters] stages at 1x: $s1, 20x: $s20")
    assert(s20 === s1,
      s"stage count changed with scale at fixed diameter ($s1 -> $s20): " +
        "a propagation round gained or lost exchanges")
  }
}
