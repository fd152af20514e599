package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, SparkSuite}
import graft.apps.SoakAudit

/** PLANS.md's invariants, enforced: the physical-plan properties the
  * 100 TB design depends on are asserted here so a regression (a lost
  * pushdown, a surprise nested-loop join, a new exchange on a map-only
  * path) fails CI instead of surfacing in a bench report. Plans are
  * inspected pre-execution at sf0.001 — plan SHAPE does not depend on
  * the scale factor. */
class PlanInvariantsSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  // ReusedExchange excluded too (r16): a reused exchange re-reads an
  // already-shuffled (or broadcast) result — no new shuffle happens, and
  // under AQE-off plan printing q17's reused BROADCAST was miscounted
  // as a third shuffle.
  private def exchanges(p: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange ".r.findAllIn(p).length

  test("map-only queries have zero shuffle exchanges") {
    Seq("text_quality", "text_tokens", "text_lang_id", "text_normalize",
        "text_pii", "text_repetition", "text_fingerprint", "text_chunks",
        "mm_payload_stats", "sim_quantize_int8", "sample_det",
        "sample_stratified").foreach { q =>
      val p = plan(q)
      assert(exchanges(p) === 0, s"$q must be map-only:\n$p")
    }
  }

  test("no nested-loop/cartesian joins outside the documented exception") {
    // importance_weights / sample_temperature are excluded: their plans
    // contain a 1-row × 1-row cross join of aggregate totals (bounded by
    // construction), not an all-pairs join over data.
    Seq("q3_revenue", "q5_nation", "q10_returns", "hot_items", "dedup_jaccard",
        "sim_lsh_topk", "sim_ivf_topk", "sim_near_dup", "dedup_minhash",
        "dedup_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must not plan an all-pairs join:\n$p")
    }
    // the one deliberate exception: the exact-recall oracle
    assert(plan("sim_bruteforce_topk").contains("BroadcastNestedLoopJoin"),
      "brute force is documented as the BNLJ exception — if this changed, update PLANS.md")
  }

  test("q6 predicates reach the parquet scan as pushed filters") {
    // toString truncates the filter list — use the formatted explain
    val p = SparkEntry.queries("q6_filter")(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull"), s"q6 lost its pushdown:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"),
      s"q6 discount band not pushed:\n$p")
  }

  test("column pruning: scans read only referenced columns") {
    val p = plan("q3_revenue")
    // lineitem has 16 columns; the query needs 4
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(read.exists(_.split(",").length <= 5), s"q3 lineitem scan over-reads:\n$p")
  }

  test("windowed top-N keeps the slice-rollup three-exchange shape") {
    // slice partial agg → window final agg → per-window rank: the rollup
    // deliberately adds one exchange of AGGREGATED slices to cut the
    // first exchange's volume 12× (PLANS.md) — 3 is the contract.
    val p = plan("hot_items")
    assert(exchanges(p) <= 3, s"hot_items grew extra exchanges:\n$p")
  }

  test("dims broadcast in the relational family") {
    Seq("q3_revenue", "q5_nation", "q14_promo").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"), s"$q lost its broadcast dims")
    }
  }

  test("top-k paths pre-trim map-side (WindowGroupLimit)") {
    Seq("hot_items", "sample_bottomk", "bm25_top_terms").foreach { q =>
      assert(plan(q).contains("WindowGroupLimit"), s"$q lost the group-limit pushdown")
    }
  }

  test("native as-of join: custom exec, one exchange+sort per side") {
    val p = plan("asof_join_native")
    assert(p.contains("AsOfJoin"), s"asof_join_native lost the custom exec:\n$p")
    assert(exchanges(p) <= 3, // one per side + the upstream view pre-agg
      s"asof_join_native grew extra exchanges:\n$p")
    assert(!p.contains("Window"), "native form must not fall back to the window plan")
  }

  test("bloom semi join probes map-side; range join stays an equi join") {
    val pb = plan("q_bloom_semi")
    assert(pb.contains("might_contain"), s"bloom probe missing:\n$pb")
    assert(pb.contains("LeftSemi"), s"exact semi pass missing:\n$pb")
    val pr = plan("q_range_join")
    assert(!pr.contains("BroadcastNestedLoopJoin") && !pr.contains("CartesianProduct"),
      s"range join must bucket to an equi join, not loop:\n$pr")
  }

  test("TPC-H wave 2: broadcast dims, no cartesian, bounded exchanges") {
    Seq("q4_priority", "q7_volume", "q8_share", "q9_profit", "q12_priority",
        "q15_top_supplier", "q17_small_qty", "q21_waiting").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q must not plan an all-pairs join:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast dims:\n$p")
    }
    // q4 is a semi-join, never a full join + distinct
    assert(plan("q4_priority").contains("LeftSemi"),
      "q4_priority must stay a semi-join")
    // q17's main fact pass is broadcast-only: the only shuffles are the
    // partial-aggregated per-part average and the global final agg
    assert(exchanges(plan("q17_small_qty")) <= 2,
      s"q17 fact pass must stay broadcast-only:\n${plan("q17_small_qty")}")
    // q21 ends in TakeOrdered (no global sort materialization)
    assert(plan("q21_waiting").contains("TakeOrderedAndProject"),
      "q21 must top-k via TakeOrdered, not a global sort")
  }

  test("gate table: unique snake_case names, pinned rows-only set") {
    // a repeated row would be shadowed silently by the maps' toMap
    val names = Catalog.gates.map(_.name)
    val repeated = names.diff(names.distinct)
    assert(repeated.isEmpty, s"gate names registered twice: $repeated")
    assert(names.size === 178)
    val badNames = names.filterNot(_.matches("[a-z0-9_]+"))
    assert(badNames.isEmpty, s"non-snake-case gate names: $badNames")
    // an oracle lost from a row must fail here, not quietly turn its
    // gate into a rows-only one
    val rowsOnly = Catalog.gates.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly === Set(
      "dedup_minhash", "dedup_minhash_inc", "dedup_simhash",
      "dedup_simhash_inc", "quality_bins_by_lang_approx",
      "quality_outliers_approx", "quality_winsorized_approx",
      "quality_winsorized_by_lang_approx", "rp_project", "sim_ivf_trained",
      "sim_ivfpq_append", "sim_ivfpq_search", "sim_ivfpq_topk",
      "sim_lsh_topk", "sim_near_dup", "uv_approx", "uv_sketch_daily",
      "value_percentiles_approx"))
    // the dev tools resolve gates ++ soaks: a soak must never shadow a gate
    val soaks = SoakAudit.soakQueries.keySet
    assert(soaks.forall(_.startsWith("soak_")),
      s"soak names without the soak_ prefix: ${soaks.filterNot(_.startsWith("soak_"))}")
    assert((soaks intersect names.toSet).isEmpty,
      s"soak names that shadow a gate: ${soaks intersect names.toSet}")
  }

  test("naive declarative sliding window gets the slice rollup automatically") {
    // hot_items_sql_auto writes window(ets,'1 hour','5 minutes') as-is;
    // SliceRollupRule must split the aggregation into partial-by-slice +
    // final-by-window (2 logical Aggregates) instead of the 12×-replicating
    // single-level plan (1).
    val df = SparkEntry.queries("hot_items_sql_auto")(spark, dir)
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.length
    assert(aggs === 2, s"rule did not fire:\n${df.queryExecution.optimizedPlan}")
  }

  test("CEP batch fold: ONE key exchange into the sorted MapGroups NFA") {
    // the combinator must cost exactly what a hand-built detector costs —
    // one hash partition on the key, per-partition sort, one fold; the
    // r7 soaks and delegation rest on this shape staying put
    Seq("cep_login_fail", "cep_order_timeout").foreach { q =>
      val p = plan(q)
      assert(p.contains("MapGroups"), s"$q lost the NFA fold operator:\n$p")
      assert(exchanges(p) <= 1, s"$q must shuffle once (the key):\n$p")
    }
  }

  test("ANN paths: map-side assignment, broadcast probes, one rank shuffle") {
    // ivf/lsh: the corpus NEVER shuffles on the bucket/centroid key — the
    // probe side broadcasts into the candidate join and the only shuffle
    // is the final per-query rank (pinned flat 20k→200k in PLANS.md r7)
    Seq("sim_ivf_topk", "sim_lsh_topk").foreach { q =>
      val p = plan(q)
      assert(exchanges(p) <= 1, s"$q must shuffle only for the rank:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q must broadcast the probe side:\n$p")
    }
    // jaccard: zero shuffles — block join broadcasts, merge-walk map-side
    val pj = plan("dedup_jaccard")
    assert(exchanges(pj) === 0, s"dedup_jaccard must be shuffle-free:\n$pj")
  }

  test("TPC-H wave 3 (Q2/Q11/Q16/Q20): broadcast dims, bounded shuffles") {
    Seq("q2_mincost", "q11_important", "q16_suppcnt", "q20_excess").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct") ||
        q == "q11_important", // 1-row × N scalar-threshold cross join is bounded
        s"$q must not plan an all-pairs join:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast dims:\n$p")
    }
    // q2: per-part rank pre-trims map-side and ends in TakeOrdered
    val q2 = plan("q2_mincost")
    assert(q2.contains("WindowGroupLimit"), s"q2 lost the group-limit pushdown:\n$q2")
    assert(q2.contains("TakeOrderedAndProject"), s"q2 must top-k via TakeOrdered:\n$q2")
    // q16: the distinct-pair + count-distinct pipeline keeps a bounded
    // exchange count (pairs, distinct rewrite, final agg + sort)
    assert(exchanges(plan("q16_suppcnt")) <= 4,
      s"q16 grew extra exchanges:\n${plan("q16_suppcnt")}")
    // q20: supplier filter stays a semi join
    assert(plan("q20_excess").contains("LeftSemi"),
      "q20 must keep the semi-join chain")
  }

  test("semantic dedup: cluster-keyed pair scan, no all-pairs join") {
    Seq("semantic_dedup", "semantic_dedup_inc").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q pair scan must stay cluster-keyed (join on cid):\n$p")
      // assignment is a map-side literal argmax — no exchange may appear
      // between the corpus scan and the pair join's own shuffle/broadcast
      assert(exchanges(p) <= 3,
        s"$q grew exchanges beyond pair-scan + drops-distinct + keep-join:\n$p")
    }
  }

  test("bigram LM: pair list is generated map-side, no self-join") {
    val p = plan("text_lm_ppl")
    // exactly ONE nested-loop join is sanctioned: the 1-row vocab-size
    // scalar cross join (same bounded shape as importance_weights'
    // totals) — a second one would mean an all-pairs join over data
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1 &&
      !p.contains("CartesianProduct"),
      s"text_lm_ppl must not plan an all-pairs join over data:\n$p")
    assert(p.contains("Generate"),
      s"bigram pairs must come from a map-side Generate (zip_with explode):\n$p")
    // bigram counts, unigram counts, vocab scalar, per-doc mean, and the
    // model-join alignment — all partial+final or vocabulary-bounded;
    // growth past 5 means the pair list started shuffling
    assert(exchanges(p) <= 5, s"text_lm_ppl grew extra exchanges:\n$p")
  }

  test("BPE segmentation: broadcast vocab join, one reassembly exchange") {
    // constructing the plan learns the (cached) model first — that loop's
    // own shape is vocab-bounded by design; what CI pins is the
    // corpus-side segmentation plan
    val p = plan("bpe_tokens")
    assert(p.contains("BroadcastHashJoin"),
      s"bpe_tokens must broadcast the segmented vocab into the corpus:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bpe_tokens must not plan an all-pairs join:\n$p")
    assert(exchanges(p) <= 1,
      s"bpe_tokens must keep the single per-doc reassembly exchange:\n$p")
    val v = plan("bpe_vocab")
    assert(v.contains("TakeOrdered"),
      s"bpe_vocab top-k must plan as TakeOrdered, not a global sort:\n$v")
  }

  test("decontamination regimes: BNLJ screen below threshold, broadcast EQUI join above") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, dir)
    val bench = emb.filter(col("vec_id") % 5 === 0)
    // eval-slice regime: the exhaustive screen IS a broadcast nested loop
    // (the benchmark broadcasts; the θ-condition is the cosine predicate)
    val exact = Similarity.semanticDecontaminate(emb, bench,
        "vec_id", "embedding", 0.9, prefilterBenchRows = Long.MaxValue)
      .queryExecution.executedPlan.toString
    assert(exact.contains("BroadcastNestedLoopJoin"),
      s"the exact screen is the documented BNLJ exception:\n$exact")
    // benchmark-suite regime: the cell prefilter must plan as a broadcast
    // HASH join on cid — an equi join, NOT all-pairs — with the corpus
    // side unshuffled before it (map-side assign + broadcast probes)
    val cells = Similarity.semanticDecontaminate(emb, bench,
        "vec_id", "embedding", 0.9, prefilterBenchRows = 0L, cellProbes = 4)
      .queryExecution.executedPlan.toString
    assert(cells.contains("BroadcastHashJoin") &&
        !cells.contains("BroadcastNestedLoopJoin") &&
        !cells.contains("CartesianProduct"),
      s"the cell prefilter must be a broadcast equi join on cid:\n$cells")
  }
}
