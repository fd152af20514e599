package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.SparkEntry
import graft.operators.{Relevance, Similarity}
import graft.sources.Tables

/**
 * Dev tool for scale soaks: run selected registry queries against a data
 * directory and print, per query, the wall time, output rows, and the
 * PLAN SHAPE (shuffle/broadcast exchange counts). Two runs at different
 * ScaleData factors answer the 100 TB question concretely — time must
 * grow ≤ linearly with data, exchange counts must not grow at all (a
 * plan that adds exchanges with data size re-plans itself into a
 * different, worse algorithm at scale).
 *
 * `runMain graft.apps.SoakAudit <dir> <q1,q2,...>` — one
 * tab-separated line per query: name, seconds, rows, shuffles,
 * broadcasts.
 */
object SoakAudit {

  /** Total (shuffles, broadcasts, actions) summed over the EXECUTED plan
    * of every action `f` triggers ([[executedPlans]]), so AQE's FINAL
    * plans are measured (runtime broadcast demotions and stage re-plans
    * included; a pre-execution `df.queryExecution.executedPlan` read
    * shows only the initial adaptive plan). Shared by the per-round
    * soaks and `PlanScaleInvariantsSpec`. */
  def actionShapes(spark: SparkSession)(f: => Unit): (Int, Int, Int) = {
    val shapes = executedPlans(spark)(f).map(countExchanges)
    (shapes.map(_._1).sum, shapes.map(_._2).sum, shapes.length)
  }

  /** The executed plan of every action `f` triggers, in completion
    * order — captured via QueryExecutionListener, with the listener bus
    * drained before they are read. */
  def executedPlans(spark: SparkSession)(f: => Unit): Seq[SparkPlan] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; org.apache.spark.GraftListenerBridge.waitListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  def countExchanges(plan: SparkPlan): (Int, Int) = {
    // AQE hides the final plan inside AdaptiveSparkPlanExec; walk the
    // EXECUTED plan so runtime-demoted broadcasts are counted as built.
    // Materialized stages are QueryStageExec LEAF nodes whose real
    // subtree hangs off `plan()`, not `children` — a plain child-walk of
    // an executed AQE plan sees ZERO exchanges (round-10 find); descend
    // explicitly. ReusedExchangeExec is a leaf pointer at the original
    // exchange, so each physical exchange still counts exactly once.
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val nodes = walk(plan)
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

  /** Fixed-probe ANN variants for corpus-scaling soaks. The GATE
    * queries' probe predicate (`id % 100 = 0`) grows with the corpus, so
    * gate time conflates query-count growth with corpus growth (work ∝
    * queries × bucket = quadratic-looking). A production search serves a
    * query RATE independent of corpus size — these pin 20 queries (all in
    * copy 0 of any ScaleData output) so the measured growth is the
    * per-query search cost alone. */
  private val fixedProbe = col("id") < 2000L && col("id") % 100 === 0

  /** Forces the decontamination screen to actually run under the
    * harness's count() action: a GROUPED aggregate over the verdict
    * columns. (A bare count() of the operator output is join-
    * cardinality-preserving, and count() over an UNGROUPED aggregate
    * constant-folds to 1 — both let Catalyst skip the whole screen.) */
  private def decontamDrive(df: DataFrame): DataFrame =
    df.groupBy(col("clean"))
      .agg(org.apache.spark.sql.functions.sum(col("n_hits")).as("total_hits"))

  /** APSS soak drive: a cos_r-band histogram — grouped on a computed
    * column so Catalyst can neither prune the pair scan nor fold the
    * count (the decontamDrive lesson). */
  private def apssDrive(df: DataFrame): DataFrame =
    df.groupBy((col("cos_r") * 10).cast("int").as("band"))
      .agg(count(lit(1)).as("pairs"))
  /** Deep-funnel soak drive (r12): 6 step types derived by splitting
    * each real event type on second-parity (the events table carries 5
    * types) — a cost-shape probe at the depth where the k-scan form
    * pays k passes over the log. `oneScan` switches to the single-scan
    * twin ([[graft.operators.Analytics.funnelUserTimesOneScan]]);
    * output equality is spec-pinned, the soak records the trade. The
    * drive aggregates the LAST frame (users + lag sum) so the whole
    * chain executes. */
  private val funnelK6Steps =
    Seq("view0", "click0", "purchase0", "view1", "click1", "purchase1")
  private def funnelK6Drive(s: SparkSession, dir: String,
                            oneScan: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, sum}
    val e = Tables.events(s, dir)
      .withColumn("sec", expr("ts div 1000000000"))
      .withColumn("et6",
        concat(col("event_type"), (col("sec") % 2).cast("string")))
    val frames =
      if (oneScan) graft.operators.Analytics.funnelUserTimesOneScan(
        e, "user_id", "sec", "et6", funnelK6Steps, horizon = 604800L)
      else graft.operators.Analytics.funnelUserTimes(
        e, "user_id", "sec", "et6", funnelK6Steps, horizon = 604800L)
    frames.last.agg(count(lit(1)).as("users"),
      sum(col("t6")).as("lag6"))
  }

  /** Re-entry funnel soak drive (r14): the maxAttempts × k static
    * unrolling is linear in the PLAN by construction, but nothing
    * measured the constant at the 6M-event corpus — these two rows pin
    * the depth axes (k = 3 with 4 attempts; k = 6 with 2). Drive =
    * per-attempt outcome aggregate so every attempt column executes. */
  private def funnelAttemptsDrive(s: SparkSession, dir: String,
                                  k6: Boolean, maxAttempts: Int): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, sum}
    val e0 = Tables.events(s, dir)
      .withColumn("sec", expr("ts div 1000000000"))
    val (e, steps) =
      if (k6) (e0.withColumn("et",
          concat(col("event_type"), (col("sec") % 2).cast("string"))),
        funnelK6Steps)
      else (e0.withColumn("et", col("event_type")),
        Seq("view", "click", "purchase"))
    graft.operators.Analytics.funnelAttempts(
        e, "user_id", "sec", "et", steps, horizon = 86400L, maxAttempts)
      .groupBy(col("attempt"), col("reached"))
      .agg(count(lit(1)).as("n"), sum(col("t1")).as("t1_sum"))
  }

  val soakQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "soak_funnel_k6" -> ((s, dir) => funnelK6Drive(s, dir, oneScan = false)),
    "soak_funnel_k6_one" -> ((s, dir) => funnelK6Drive(s, dir, oneScan = true)),
    "soak_funnel_attempts_k3" -> ((s, dir) =>
      funnelAttemptsDrive(s, dir, k6 = false, maxAttempts = 4)),
    "soak_funnel_attempts_k6" -> ((s, dir) =>
      funnelAttemptsDrive(s, dir, k6 = true, maxAttempts = 2)),
    "soak_ivf_fixedq" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedProbe, k = 5, nCentroids = 16, nProbe = 4)),
    "soak_ivf_trained_fixedq" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedProbe, k = 5, nCentroids = 16, nProbe = 4, trainIters = 2)),
    // Filtered IVF (r11): same fixed probe set, neighbors restricted to
    // label = 3 (~10% selectivity) with nProbe widened 4 → 8. Per-query
    // cost must track ~selectivity × the unfiltered per-list scan (the
    // predicate prunes the corpus BEFORE assignment/join), with the same
    // flat exchange shape as soak_ivf_fixedq.
    "soak_ivf_filtered_fixedq" -> ((s, dir) =>
      Similarity.ivfTopKWhere(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedProbe, col("label") === 3, k = 5, nCentroids = 16, nProbe = 8)),
    "soak_ivfpq_filtered_fixedq" -> ((s, dir) =>
      Similarity.ivfPqTopKWhere(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedProbe, col("label") === 3, k = 5, nCentroids = 16, nProbe = 8,
        m = 8, kSub = 16, pqIters = 1)),
    // Attribute-carrying twin (r12): label rides IN the index, the
    // predicate prunes the index rows directly — per the deployment
    // shape the semi-join form's scaladoc prescribes. Same fixed probe
    // set and parameters as soak_ivfpq_filtered_fixedq; the exchange
    // delta between the two IS the corpus-scale semi-join.
    "soak_ivfpq_attr_fixedq" -> ((s, dir) =>
      Similarity.ivfPqTopKAttr(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedProbe, col("label") === 3, Seq("label"), k = 5,
        nCentroids = 16, nProbe = 8, m = 8, kSub = 16, pqIters = 1)),
    "soak_ivfpq_fixedq" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedProbe, k = 5, nCentroids = 16, nProbe = 4,
        m = 8, kSub = 16, pqIters = 1)),
    "soak_lsh_fixedq" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        fixedProbe, k = 5, planes = 8)),
    // SemDeDup at soak scale: √n-sized quantizer (the gate pins 16 for
    // oracle determinism; production sizing is the auto rule — true √n
    // since the r11 clamp lift — which keeps the per-cluster pair scan
    // ~linear in corpus size). Driven through a keep-verdict aggregate:
    // a bare count() of the keep frame lets Catalyst ELIMINATE the
    // whole pair scan (left join with unique right keys + pruned keep
    // column — the decontamDrive lesson, found again here in r11: the
    // bare form measured 3.2 s flat at 2M vectors, i.e. nothing).
    "soak_semdedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id",
        "embedding", tau = 0.3, nCentroids = -1)
        .groupBy(col("keep")).agg(count(lit(1)).as("n"))),
    // Semantic-decontamination regime soaks (r8): benchmark grows 10×
    // (id%50 → id%5 slices of the embeddings table); _exact is the BNLJ
    // cosine screen (cost ∝ corpus × |benchmark|), _cells the IVF-cell
    // prefilter (each corpus row compares only against the probes in
    // its own cell — cost ∝ corpus × |benchmark| × probes / nCells).
    // Driven through a verdict aggregate: a bare count() of the output
    // is join-cardinality-preserving and lets the optimizer skip the
    // actual screen.
    "soak_decontam_exact_b1" -> ((s, dir) =>
      decontamDrive(Similarity.semanticDecontaminate(Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", tau = 0.9,
        prefilterBenchRows = Long.MaxValue))),
    "soak_decontam_exact_b10" -> ((s, dir) =>
      decontamDrive(Similarity.semanticDecontaminate(Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", tau = 0.9,
        prefilterBenchRows = Long.MaxValue))),
    "soak_decontam_cells_b1" -> ((s, dir) =>
      decontamDrive(Similarity.semanticDecontaminate(Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", tau = 0.9,
        prefilterBenchRows = 0L, cellProbes = 4))),
    "soak_decontam_cells_b10" -> ((s, dir) =>
      decontamDrive(Similarity.semanticDecontaminate(Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", tau = 0.9,
        prefilterBenchRows = 0L, cellProbes = 4))),
    // Cluster-resolution tier soaks (r8): same verified-jaccard pair
    // frame as the dedup_clusters gate, with the tier knobs pinned so a
    // CHOSEN tier executes regardless of data volume. _smj forces the
    // fully general sort-merge rounds (the >8M-node top tier, otherwise
    // unreachable below millions of docs); _bcast pins the broadcast
    // tier for a same-data comparison. Labels are tier-invariant (the
    // round logic is shared; only the join strategy hint differs —
    // pinned in DedupSpec).
    "soak_clusters_smj" -> ((s, dir) =>
      graft.operators.Dedup.resolveClusters(
        SparkEntry.queries("dedup_jaccard")(s, dir),
        localEdgeThreshold = 0L, broadcastNodeLimit = 0L)),
    "soak_clusters_bcast" -> ((s, dir) =>
      graft.operators.Dedup.resolveClusters(
        SparkEntry.queries("dedup_jaccard")(s, dir),
        localEdgeThreshold = 0L)),
    // Incremental-minhash ingest soaks (r9): the design claim is that
    // screening a FIXED-size ingest batch costs ~the store scan, flat in
    // corpus size beyond it — the corpus is never re-signed or shuffled.
    // _store builds the keeper store alone (the one-time corpus cost, ∝
    // corpus); _inc builds it AND screens a fixed 1250-doc re-keyed
    // ingest, so (_inc − _store) isolates the per-ingest cost, which
    // must stay ~flat as the corpus scales 1× → 10× → 100×.
    "soak_minhash_store" -> ((s, dir) =>
      graft.operators.Dedup.minhashStore(
        Tables.documents(s, dir), "doc_id", "text")),
    "soak_minhash_inc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // copy 0 of any ScaleData output keeps ids 0-4999, so this is the
      // SAME 1250 documents at every factor. Half re-ingest verbatim
      // (exercising the exact-hit star path); half get a token appended —
      // novel fp, high shingle overlap — so the banded candidate probe
      // runs against the corpus-sized store too.
      // mutation decided on the ORIGINAL id, shift applied after (ADVICE
      // r14): the 50/50 split must not depend on the shift constant's
      // divisibility by 8
      val incoming = docs.filter(col("doc_id") < 5000L &&
          col("doc_id") % 4 === 0)
        .withColumn("text",
          org.apache.spark.sql.functions.when(col("doc_id") % 8 === 0,
              org.apache.spark.sql.functions.concat(col("text"),
                lit(" zq9ingest")))
            .otherwise(col("text")))
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      graft.operators.Dedup.minhashLshPairsIncremental(incoming,
        graft.operators.Dedup.minhashStore(docs, "doc_id", "text"),
        docs, "doc_id", "text", tau = 0.5)
    }),
    // Incremental duplicated-span soaks (r14): same claim and method as
    // the minhash pair — the per-doc span store build is the one-time
    // corpus cost, (_inc − _store) isolates the marginal screen, whose
    // probe is a map-side broadcast of the FIXED batch's hash set, so
    // its exchange count must stay flat and its time bounded by the
    // store scan as the corpus grows.
    "soak_spans_store" -> ((s, dir) =>
      graft.operators.Dedup.spanStorePerDoc(
        Tables.documents(s, dir), "doc_id", "text")),
    "soak_spans_inc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // same fixed 1250-doc ingest slice as soak_minhash_inc: half
      // verbatim re-ingests (every span a store dup), half with a token
      // appended (tail spans novel, head spans dup)
      val incoming = docs.filter(col("doc_id") < 5000L &&
          col("doc_id") % 4 === 0)
        .withColumn("text",
          org.apache.spark.sql.functions.when(col("doc_id") % 8 === 0,
              org.apache.spark.sql.functions.concat(col("text"),
                lit(" zq9ingest")))
            .otherwise(col("text")))
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      // Driven through a grouped verdict aggregate: a bare count() of
      // the screen is join-cardinality-preserving (dupPerDoc is keyed),
      // so Catalyst would ELIMINATE the left join and the soak would
      // measure an empty plan — the decontamDrive lesson again.
      graft.operators.Dedup.duplicatedSpansIncrementalPerDoc(incoming,
        graft.operators.Dedup.spanStorePerDoc(docs, "doc_id", "text"),
        "doc_id", "text")
        .groupBy(col("n_dup_spans") > 0)
        .agg(org.apache.spark.sql.functions.sum("n_dup_spans"),
          org.apache.spark.sql.functions.sum("n_spans"),
          org.apache.spark.sql.functions.avg("dup_span_frac"))
    }),
    // Frame-tier survivors sweep soak (r15, VERDICT r14 #4): drives
    // survivorDrops PAST its 100k-pair collect threshold — the
    // match-amplified batch the iterate-to-fixpoint tier exists for,
    // previously spec-pinned for correctness but never measured at its
    // own trigger size. Fixture (120k pairs, deterministic, dir-free):
    // a star mix (80k leaves over 200 roots, every 10th pair
    // transitive — settles in round 0 + one frame round; the WIDE
    // shape) + 2,000 chains of depth 20 (40k pairs — one link settles
    // per round, so the sweep runs its chain-depth worst case: ~20
    // rounds of pair-list-sized joins with 3 localCheckpoints each).
    // Expected drop set: 80,000 star leaves + 10 alternating links per
    // chain = 100,000 rows — the printed row count audits it. Time is
    // rounds × (join + checkpoint) and must grow with CHAIN DEPTH, not
    // corpus factor (the fixture is fixed; re-run at other sizes by
    // scaling the constants).
    "soak_survivors_frame" -> ((s, dir) => {
      val stars = s.range(80000L).selectExpr(
        "id % 200 AS id_a",
        "id + 1000000 AS id_b",
        "CASE WHEN id % 10 = 0 THEN 1.0 ELSE 0.8 END AS sim")
      val chains = s.range(40000L).selectExpr(
        "2000000 + (id div 20) * 21 + (id % 20) AS id_a",
        "2000000 + (id div 20) * 21 + (id % 20) + 1 AS id_b",
        "0.8 AS sim")
      graft.streaming.StreamPipeline.survivorDrops(s,
        stars.unionByName(chains), "sim", "doc_id")
    }),
    // Depth isolation twin: SAME pair count (120k) but chains twice as
    // deep (1,000 × depth 40) — if the frame tier's cost model is
    // rounds × (join + checkpoint), this must take ~2× the base soak
    // while the star-only work is unchanged. r15 measurements (warm
    // JVM, quiet box): base 12.4 s / 104 shuffles, deep 33.3 s / 204 —
    // exchanges exactly 5/round at both depths, per-round wall flat at
    // ~0.6-1 s (instrumented), drops exactly 100,000 at both. A first
    // run under ambient load recorded 179 s for the deep shape on the
    // SAME binary — the checkpoint-loop box-sensitivity the bench's
    // min-protocol exists for.
    "soak_survivors_frame_deep" -> ((s, dir) => {
      val stars = s.range(80000L).selectExpr(
        "id % 200 AS id_a",
        "id + 1000000 AS id_b",
        "CASE WHEN id % 10 = 0 THEN 1.0 ELSE 0.8 END AS sim")
      val chains = s.range(40000L).selectExpr(
        "2000000 + (id div 40) * 41 + (id % 40) AS id_a",
        "2000000 + (id div 40) * 41 + (id % 40) + 1 AS id_b",
        "0.8 AS sim")
      graft.streaming.StreamPipeline.survivorDrops(s,
        stars.unionByName(chains), "sim", "doc_id")
    }),
    // Width isolation twin (r16, VERDICT r15 #4): 10× the PAIR COUNT
    // (1.2M) at the SAME depth 20 — the 100 TB batch is wide, not deep.
    // Star mix 800k leaves over 2,000 roots; 20,000 chains of depth 20
    // (400k pairs). Expected drops: 800,000 leaves + 10 per chain ×
    // 20,000 = 1,000,000. If the cost model (rounds × (join +
    // checkpoint), join ∝ pair volume) is right, ROUNDS stay constant
    // (depth-bound: shuffle/exchange counts ≈ the base soak's) and only
    // per-round time grows — ≲ 10× the base wall, completing the axis
    // the depth twin left open.
    "soak_survivors_frame_wide" -> ((s, dir) => {
      val stars = s.range(800000L).selectExpr(
        "id % 2000 AS id_a",
        "id + 10000000 AS id_b",
        "CASE WHEN id % 10 = 0 THEN 1.0 ELSE 0.8 END AS sim")
      val chains = s.range(400000L).selectExpr(
        "20000000 + (id div 20) * 21 + (id % 20) AS id_a",
        "20000000 + (id div 20) * 21 + (id % 20) + 1 AS id_b",
        "0.8 AS sim")
      graft.streaming.StreamPipeline.survivorDrops(s,
        stars.unionByName(chains), "sim", "doc_id")
    }),
    // Incremental-SIMHASH ingest soaks (r10): same claim and method as
    // the minhash pair — the store build is the one-time corpus cost,
    // (_inc − _store) isolates the per-ingest screen, which reads NO
    // text at all (hamming verify is pure signature arithmetic).
    "soak_simhash_store" -> ((s, dir) =>
      graft.operators.Dedup.simhashStore(
        Tables.documents(s, dir), "doc_id", "text")),
    "soak_simhash_inc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val incoming = docs.filter(col("doc_id") < 5000L &&
          col("doc_id") % 4 === 0)
        .withColumn("text",
          org.apache.spark.sql.functions.when(col("doc_id") % 8 === 0,
              org.apache.spark.sql.functions.concat(col("text"),
                lit(" zq9ingest")))
            .otherwise(col("text")))
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      graft.operators.Dedup.simhashPairsIncremental(incoming,
        graft.operators.Dedup.simhashStore(docs, "doc_id", "text"),
        "doc_id", "text", maxHamming = 3)
    }),
    // Semantic-ingest soaks (r10): the frozen-quantizer ingest path
    // (semanticIngestStream's per-batch core). Quantizer trains on the
    // FIXED base copy (vec_id < 2000 — identical at every factor), so
    // the model is constant; _assign is the one-time corpus assignment
    // (map-only), _inc adds a fixed ~1000-vector ingest screened via
    // semanticDedupIncrementalAssigned — (_inc − _assign) is the
    // per-ingest cost, which must stay ~flat as the corpus scales.
    // Driven through a per-cid aggregate: a bare count() of a projection
    // lets Catalyst prune the assignment expression and just count the
    // scan (and a left-join screen with unique right keys is eliminated
    // entirely under count() — the decontamDrive lesson, re-learned on
    // this family in r10 when _inc measured FASTER than _assign at 20M).
    "soak_semantic_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainQuantizer(
        emb.filter(col("vec_id") < 2000L), "vec_id", "embedding",
        nCentroids = -1)
      Similarity.assignToQuantizer(emb, "vec_id", "embedding", cents)
        .groupBy(col("cid")).agg(count(lit(1)).as("n"))
    }),
    "soak_semantic_inc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainQuantizer(
        emb.filter(col("vec_id") < 2000L), "vec_id", "embedding",
        nCentroids = -1)
      val corpusA = Similarity.assignToQuantizer(emb, "vec_id", "embedding",
        cents)
      // fixed ingest: copy-0 vectors re-keyed; half verbatim (tau-1
      // drops), half nudged in one dimension (near-miss verify work)
      val incoming = emb.filter(col("vec_id") < 2000L &&
          col("vec_id") % 2 === 0)
        .withColumn("embedding",
          org.apache.spark.sql.functions.when(col("vec_id") % 4 === 0,
            org.apache.spark.sql.functions.transform(col("embedding"),
              (v, i) => org.apache.spark.sql.functions.when(i === 0,
                v + lit(0.05f)).otherwise(v)))
            .otherwise(col("embedding")))
        .withColumn("vec_id", col("vec_id") + lit(1000000000L))
      Similarity.semanticDedupIncrementalAssigned(incoming, corpusA,
        "vec_id", "embedding", cents, tau = 0.9)
        .groupBy(col("keep")).agg(count(lit(1)).as("n"))
    }),
    // Production-vocabulary BPE learning (r8): k=1024 merges over the
    // corpus word table via the driver-local indexed learner — the soak
    // evidence that learning escaped the one-Spark-job-per-merge regime.
    "soak_bpe_learn1024" -> ((s, dir) => {
      val words = graft.operators.Tokenize.wordCounts(
        graft.sources.Tables.documents(s, dir), "doc_id", "text")
      graft.operators.Tokenize.mergesDf(
        graft.operators.Tokenize.learnBpe(words, k = 1024))
    }),
    // The DISTRIBUTED batched learner on the same fixture, forced past
    // the local path (threshold 0): measures how many merges each
    // corpus-table pass lands via the provably-safe prefix — the claim
    // behind "k sequential jobs become ~k/tens passes". k=256 keeps the
    // wall-clock reasonable; merges-per-pass is the number that matters.
    "soak_bpe_zipf200k_dist" -> ((s, _) => {
      val words = zipfWords(s, 200000)
      graft.operators.Tokenize.mergesDf(
        graft.operators.Tokenize.learnBpe(words, k = 256,
          localVocabThreshold = 0L, batchLimit = 64))
    }),
    // Same, over a production-SHAPED vocabulary: 200k distinct seeded
    // random words with Zipfian counts (the r7 "realistic vocabulary
    // scale" fixture, now reproducible). Ignores the data dir.
    "soak_bpe_zipf200k" -> ((s, _) =>
      graft.operators.Tokenize.mergesDf(
        graft.operators.Tokenize.learnBpe(zipfWords(s, 200000), k = 1024))),
    // Containment dedup at soak scale (r11 s3): the stop-shingle cap is
    // the load-bearing knob — pair volume is Σ df² and the mutated-copy
    // families push shared-shingle df up with the corpus, so the soak
    // runs the CAPPED regime a production corpus would (evidence capped
    // at df ≤ 64; tau low enough that capped lower bounds still emit).
    // Driven through a per-container aggregate (inner join + two
    // aggregates — not optimizer-eliminable).
    "soak_containment" -> ((s, dir) =>
      graft.operators.Dedup.containmentPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, tau = 0.3, maxDf = 64L)
        .groupBy(col("container_id")).agg(count(lit(1)).as("n_contained"))
        .groupBy().agg(count(lit(1)).as("containers"),
          org.apache.spark.sql.functions.sum(col("n_contained")).as("pairs"))),
    // APSS A/B soaks (r13): the prefix filter's candidate-volume
    // economics — the PUBLIC operator (lever policy applied) vs the
    // flag forced the other way (`_pf` stacks the filter on a capped
    // run, `_nopf` strips it from an uncapped one). Output is
    // bit-identical across flags (spec-pinned); the soak records the
    // cost delta. Driven through a cos_r-band aggregate so the whole
    // pair scan executes. Recorded r13 (50k mutated / 20k boiler):
    // capped 7.6 vs stacked-pf 16.6 (the policy's evidence); boiler
    // prefix 12.1 vs nopf 309.7 (the filter's win case).
    "soak_apss_capped" -> ((s, dir) => apssDrive(Relevance.cosinePairs(
      Tables.documents(s, dir), "doc_id", "text", 0.3, 50L))),
    "soak_apss_capped_pf" -> ((s, dir) => apssDrive(Relevance.cosinePairsImpl(
      Tables.documents(s, dir), "doc_id", "text", 0.3, 50L,
      prefixFilter = true))),
    "soak_apss_uncapped" -> ((s, dir) => apssDrive(Relevance.cosinePairs(
      Tables.documents(s, dir), "doc_id", "text", 0.3))),
    "soak_apss_uncapped_nopf" -> ((s, dir) => apssDrive(Relevance.cosinePairsImpl(
      Tables.documents(s, dir), "doc_id", "text", 0.3, 0L,
      prefixFilter = false))),
    "soak_apss_tau7" -> ((s, dir) => apssDrive(Relevance.cosinePairs(
      Tables.documents(s, dir), "doc_id", "text", 0.7))),
    "soak_apss_tau7_nopf" -> ((s, dir) => apssDrive(Relevance.cosinePairsImpl(
      Tables.documents(s, dir), "doc_id", "text", 0.7, 0L,
      prefixFilter = false))),
    // The production-shaped demo (r13): a boilerplate-heavy long-tail
    // corpus — the web-corpus profile where exact prefix filtering earns
    // its keep. The unfiltered form pays 4 × (n/2)² join rows on the
    // boilerplate block; the prefix absorbs it (<1% of any doc's
    // energy) and joins only the long-tail content terms. Ignores the
    // data dir (generated, like soak_bpe_zipf200k).
    "soak_apss_boiler" -> ((s, _) => apssDrive(Relevance.cosinePairs(
      boilerplateDocs(s, 20000), "doc_id", "text", 0.5))),
    "soak_apss_boiler_nopf" -> ((s, _) => apssDrive(Relevance.cosinePairsImpl(
      boilerplateDocs(s, 20000), "doc_id", "text", 0.5, 0L,
      prefixFilter = false))),
    // 5× the boilerplate corpus, prefix path only (the unfiltered form's
    // boilerplate join grows 25× here — 4 × (n/2)²) — the growth-curve
    // row for the filter's win case.
    "soak_apss_boiler100k" -> ((s, _) => apssDrive(Relevance.cosinePairs(
      boilerplateDocs(s, 100000), "doc_id", "text", 0.5))),
    "soak_apss_boiler500k" -> ((s, _) => apssDrive(Relevance.cosinePairs(
      boilerplateDocs(s, 500000), "doc_id", "text", 0.5))),
    // Integer PageRank over the customer↔supplier trade graph, 10
    // iterations. Per-iteration exchange count must be FLAT in corpus
    // size (the loop compiles its own fixed shapes with AQE off); time
    // grows with edges × iterations.
    "soak_graphrank" -> ((s, dir) => {
      val cs = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(org.apache.spark.sql.functions.concat(lit("c"),
            col("o_custkey").cast("string")).as("src"),
          org.apache.spark.sql.functions.concat(lit("s"),
            col("l_suppkey").cast("string")).as("dst"))
        .distinct()
      val sym = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.GraphRank.pageRank(sym, "src", "dst", iters = 10)
        .groupBy().agg(count(lit(1)).as("nodes"),
          org.apache.spark.sql.functions.sum(col("rank_int")).as("mass"))
    }))

  /** Every name the dev tools (SoakAudit, PlanDump, PlanBatch,
    * StageProfile) resolve: the gates plus the soak drives. Soak names
    * start with `soak_` and never collide with a gate name (pinned in
    * PlanInvariantsSpec), so neither side shadows the other. */
  val registry: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ soakQueries

  /** Boilerplate-heavy long-tail corpus: every doc opens with one of two
    * 4-token boilerplate headers (df = n/2 each — nonzero idf, so the
    * zero-weight filter cannot drop them) plus 8 content tokens; every
    * 7th doc near-duplicates its predecessor's content (one token off),
    * every 13th duplicates it exactly. Deterministic, generated. */
  private[apps] def boilerplateDocs(s: SparkSession, n: Int): DataFrame = {
    import s.implicits._
    val rows = Array.tabulate(n) { i =>
      val content =
        if (i % 13 == 4 && i > 0) contentTokens(i - 1)
        else if (i % 7 == 3 && i > 0)
          contentTokens(i - 1).updated(0, s"mut$i")
        else contentTokens(i)
      val boiler =
        if (i % 2 == 0) "terms of service apply" else "all rights reserved here"
      (i.toLong, boiler + " " + content.mkString(" "))
    }
    s.sparkContext.parallelize(rows.toIndexedSeq, 32).toDF("doc_id", "text")
  }

  private def contentTokens(i: Int): Vector[String] =
    Vector.tabulate(8)(j => s"u${i}c$j")

  /** 200k-scale deterministic Zipfian word table: seeded random words,
    * index suffix for distinctness, counts ~ 1e7/(rank+10). */
  private def zipfWords(s: SparkSession, n: Int): DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = Array.tabulate(n) { i =>
      val len = 3 + rnd.nextInt(10)
      val w = Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
      (w + i, 1L + (1e7 / (i + 10)).toLong)
    }
    import s.implicits._
    s.sparkContext.parallelize(rows.toIndexedSeq, 32).toDF("word", "cnt")
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, namesCsv) = args.take(2)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    // Soaks materialize O(edges) DISK_ONLY checkpoints; Spark leaves
    // cached blocks UNcompressed by default and a 1.4B-edge table of
    // two-long rows is ~45 GB raw vs ~1/4 of that under LZ4 — on this
    // box's 80 GB disk that is the difference between the 100× soak
    // fitting or dying on ENOSPC. Shuffle files are compressed by
    // default already; this aligns block storage with them.
    val spark = graft.GraftSession.local(conf = Map("spark.rdd.compress" -> "true"))
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warmup

    println("query\tsec\trows\tshuffles\tbroadcasts")
    names.foreach { name =>
      registry.get(name) match {
        case None => println(s"$name\tUNKNOWN")
        case Some(fn) =>
          System.gc()
          var rows = 0L
          val t0 = System.nanoTime()
          // exchange counts come from the EXECUTED plans of every action
          // the query triggers (r10: the old pre-execution read showed
          // AQE's initial plan, blind to exactly the runtime demotions
          // soaks exist to catch)
          val (sh, bc, _) = actionShapes(spark) {
            rows = fn(spark, dir).count()
          }
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"$name\t$sec%.2f\t$rows\t$sh\t$bc")
      }
    }
    spark.stop()
  }
}
