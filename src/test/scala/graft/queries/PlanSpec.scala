package graft.queries

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Plan-shape assertions — the 100 TB discipline checks: filters reach
  * the parquet scan, small dims broadcast, top-k avoids a global sort,
  * scans read only needed columns. A green result here is what makes
  * the sf0.1 numbers predictive of cluster behavior.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** The exchanges a query's plan runs, read from AQE's initial plan;
    * exchanges with the same canonical form count once, as reuse runs
    * them once. */
  private def exchanges(name: String): Seq[Exchange] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val all = nodes(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      .collect { case e: Exchange => e }
    all.groupBy(_.canonicalized).values.map(_.head).toSeq
  }

  /** Whether `p` reads an aggregate's output: walks down unary nodes and
    * the streamed side of broadcast joins, and stops at the first
    * aggregate (true) or exchange or leaf (false). */
  @annotation.tailrec
  private def aboveAggregate(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: Exchange | _: LeafExecNode => false
    case j: BroadcastHashJoinExec =>
      aboveAggregate(if (j.buildSide == BuildLeft) j.right else j.left)
    case j: BroadcastNestedLoopJoinExec =>
      aboveAggregate(if (j.buildSide == BuildLeft) j.right else j.left)
    case _ if p.children.size == 1 => aboveAggregate(p.children.head)
    case _ => false
  }

  /** Asserts the query's shuffle and broadcast exchange counts and that
    * every single-partition shuffle (a gather, or the exchange an
    * unpartitioned window or global aggregate needs) reads an
    * aggregate's output, never a scan of fact-sized input. */
  private def assertExchangeBudget(name: String, shuffles: Int, broadcasts: Int): Unit = {
    val ex = exchanges(name)
    val sh = ex.collect { case e: ShuffleExchangeLike => e }
    val bc = ex.collect { case e: BroadcastExchangeLike => e }
    info(s"$name: ${sh.size} shuffles, ${bc.size} broadcasts")
    assert(sh.size <= shuffles && bc.size <= broadcasts,
      s"$name: ${sh.size} shuffles (budget $shuffles), ${bc.size} broadcasts " +
        s"(budget $broadcasts):\n${ex.mkString("\n")}")
    sh.filter(_.outputPartitioning.numPartitions == 1).foreach { e =>
      assert(aboveAggregate(e.child), s"$name: single-partition exchange over " +
        s"non-aggregated input:\n$e")
    }
  }

  test("q01: filter pushdown + column pruning reach the scan") {
    val p = plan("q01_scan_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // pruned read schema: only the 5 needed columns, not all 11
    assert(!p.contains("l_returnflag"), "scan should not read unused columns")
  }

  test("q03: small dims broadcast, no shuffle for nation/region") {
    val p = plan("q03_revenue_per_nation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q107/q108: deep TPC-H joins broadcast every dim, no cartesian") {
    Seq("q107_volume_shipping", "q108_market_share").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: all joins are equi")
    }
  }

  test("q12: global top-k plans TakeOrderedAndProject (no full sort)") {
    val p = plan("q12_top10_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q02: aggregation is partial+final (map-side combine)") {
    val p = plan("q02_agg_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial agg appears below the exchange: two HashAggregate levels
    assert(p.split("HashAggregate").length > 2, p)
  }

  test("q05: anti join planned as broadcast or shuffled hash") {
    val p = plan("q05_customers_without_orders")
    assert(p.contains("LeftAnti"), p)
  }

  test("q49: joins hint-free, n_docs folded via 1-row broadcast cross join") {
    val df = SparkEntry.queries("q49_tfidf_top_terms")(spark, sf)
    // no forced broadcast: the term vocabulary is unbounded at 100 TB —
    // the optimizer picks the tf⋈df strategy from stats (AQE at runtime)
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q49 must not force a join strategy")
    val p = df.queryExecution.executedPlan.toString
    // the 1-row corpus-size aggregate rides a BroadcastNestedLoopJoin —
    // free at any scale; a CartesianProduct would mean the fold broke
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // and no separate count() job: n_docs is part of this one plan
    assert(p.contains("count"), p)
  }

  test("q26: posting-list pair topology has no join at all") {
    // the pair kernel is groupBy→explode→groupBy: any Join operator
    // would mean the old double-scan self-join crept back in
    val p = plan("q26_ngram_jaccard_pairs")
    assert(!p.contains("Join"), p)
    assert(p.contains("pair_combos") || p.contains("PairCombos") ||
      p.contains("Generate"), p)
  }

  test("q51: multimodal extraction stays a single mapPartitions pipeline") {
    val p = plan("q51_multimodal_rollup")
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("partitioned warehouse tables prune partitions at the scan") {
    import org.apache.spark.sql.functions._
    val wh = new graft.exec.Warehouse(spark,
      graft.SparkSpec.registerScratch(java.nio.file.Files.createTempDirectory("plan_wh")).toString)
    wh.writeTable("events_part",
      graft.Tables.load(spark, sf, "events")
        .withColumn("day", to_date(col("ts"))),
      partitionBy = Seq("day"))
    val filtered = wh.read("events_part")
      .filter(col("day") === "2024-01-02")
    val p = filtered.queryExecution.executedPlan.toString
    // Catalyst turns the day predicate into a PartitionFilter — only
    // that directory is listed/read, the rest never open
    assert(p.contains("PartitionFilters: [") && p.contains("day"), p)
    assert(filtered.count() > 0)
  }

  test("q58: eval gram set broadcast against the training-side scan") {
    // the 100 TB shape: the tiny held-out set ships to the corpus
    // scan's side, never shuffling the training grams by key
    val p = plan("q58_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q60: mixing weights broadcast; sampling needs no shuffle before agg") {
    val p = plan("q60_corpus_mixing")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q61: packing window is shard-partitioned, not a global sort") {
    // the 100 TB shape: running sums partition by shard so no single
    // task owns the whole corpus ordering
    val p = plan("q61_sequence_packing")
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("q65: top-k rank window partitions by source, not a global sort") {
    val p = plan("q65_domain_topk")
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("q67: incremental dedup plans an anti join on the fingerprint") {
    val p = plan("q67_incremental_dedup")
    assert(p.contains("LeftAnti"), p)
    // keep-min is a partial+final agg, not a window over the batch
    assert(p.contains("partial_min"), p)
  }

  test("q69: incremental near-dup probes corpus bands via semi join") {
    val p = plan("q69_incremental_near_dup")
    assert(p.contains("LeftSemi"), p)
  }

  test("q117: both correlations ride one window over ONE lineitem scan") {
    val p = plan("q117_sole_late_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), "distinct-supplier counts must be window'd")
    assert(p.split("Scan parquet").count(_.contains("lineitem")) <= 1,
      "the per-order aggregate must not re-scan lineitem")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "all q117 joins are equi")
  }

  test("q116: rolling actives via explode fan-out, no nested-loop range join") {
    val p = plan("q116_rolling_active_users")
    // the ≤7-day contribution expansion is a generator, not a range join
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "day-range membership must not plan a nested-loop join")
  }

  test("q118: trigram path is window + partial/final agg, no self-join") {
    val p = plan("q118_event_trigrams")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.toLowerCase.contains("cartesian"), p)
    // one aggregate pair over the trigram key, topped by TakeOrdered
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q119/q120: correlated-agg and HAVING joins stay equi, no cartesian") {
    Seq("q119_small_order_revenue", "q120_large_volume_orders").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: all joins are equi")
    }
    val p119 = plan("q119_small_order_revenue")
    assert(p119.contains("Window"), "per-part avg must be a window")
    assert(p119.split("Scan parquet").count(_.contains("lineitem")) <= 1,
      "the per-part average must not re-scan lineitem")
  }

  test("q121: argmin is a min-window over ONE lineitem scan; dims broadcast") {
    val p = plan("q121_min_cost_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), "groupwise-min must be a window, not agg-join-agg")
    assert(p.split("Scan parquet").count(_.contains("lineitem")) <= 1,
      "the cost aggregate must not be computed twice")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q122/q123: global scalar is a 1-row broadcast, not a rescan") {
    Seq("q122_important_parts", "q123_top_supplier").foreach { q =>
      val p = plan(q)
      // the singleton aggregate joins via broadcast (nested-loop for the
      // join-condition-free q122 cross join, hash for q123's equality) —
      // either way no shuffle and ONE scan of the fact table per branch
      assert(p.contains("Broadcast"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("q124: supplier blocklist is a broadcast anti-join; distinct pre-aggregates") {
    val p = plan("q124_part_supplier_counts")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // distinct-then-count: two HashAggregate levels, no Expand fan-out
    assert(p.split("HashAggregate").length > 2, p)
    assert(!p.contains("Expand"), "pre-distinct avoids the Expand plan")
  }

  test("q125: nested semi rides a window over ONE lineitem scan") {
    val p = plan("q125_dominant_suppliers")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("Window"), "per-part total must be a window over ss")
    assert(p.split("Scan parquet").count(_.contains("lineitem")) <= 1,
      "the per-part total must not re-scan lineitem")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q126: threshold broadcast + anti-join, aggregate after the shrink") {
    val p = plan("q126_idle_rich_customers")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q127/q131: top-k is TakeOrdered, never a global sort") {
    Seq("q127_shipping_priority", "q131_returned_items").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("q128: correlated EXISTS is a hash LeftSemi on orderkey, not a BNL") {
    val p = plan("q128_late_order_priority")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the lateness comparison must ride the orderkey equi-join")
  }

  test("q129: the pure scan — pushdown, 4-column read, partial agg, no join") {
    val p = plan("q129_revenue_forecast")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("Join"), "Q6 has no join")
    assert(!p.contains("l_orderkey"), "scan must prune to the 4 used columns")
    // map-side partial + final: two HashAggregate levels
    assert(p.split("HashAggregate").length > 2, p)
  }

  test("q130/q134/q135: filtered dims broadcast into the fact scan") {
    Seq("q130_nation_profit", "q134_promo_revenue",
        "q135_disjunctive_parts").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("q132: one aggregation pass computes both conditional sums") {
    val p = plan("q132_delay_priority_matrix")
    // a single partial+final HashAggregate pair — not one scan per sum
    assert(p.split("HashAggregate").length === 3, p)
    assert(p.split("Scan parquet").length === 3, "each table scanned once")
  }

  test("q133: outer-join filter stays in the join; double aggregate") {
    val p = plan("q133_customer_distribution")
    assert(p.contains("LeftOuter"), p)
    // two aggregates (per-customer count, then histogram), each
    // partial+final = 4 HashAggregate nodes
    assert(p.split("HashAggregate").length > 3, p)
  }

  test("q137: fuzzy join runs over the broadcast distinct-name domain") {
    val p = plan("q137_fuzzy_name_pairs")
    // the blocked self-join is equi on the blocking token and the
    // name domain is dimension-sized: broadcast, never cartesian
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q138: shard plan is one shard-keyed window + partial agg") {
    val p = plan("q138_shard_plan")
    assert(p.contains("Window"), p)
    // exactly one repartitioning exchange feeds the window AND the
    // shard-grouped aggregate (same key — no second shuffle)
    assert(p.split("Exchange hashpartitioning").length === 2, p)
    assert(p.split("HashAggregate").length > 2, "map-side combine: " + p)
  }

  test("q139: BM25 broadcasts the 3-term idf table, top-k avoids a sort") {
    val p = plan("q139_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q140: pagerank releases every cache; result is the localized top-k") {
    // construction runs the 3 fixed-point rounds (each persisted +
    // forced) and the top-20 is pinned locally, so every PER-RUN cache
    // (round ranks) is released before the query returns (r5 advice:
    // repeated bench runs must not accumulate executor memory). The
    // co-purchase EDGE table and its DEGREE table are the two
    // deliberate exceptions (built-once session indexes predges +
    // prdeg, the coPairs/IVF convention — r15 moved degrees into the
    // ledger so per-query cost is the 3 rounds only), so the FIRST run
    // may add at most those two entries and a SECOND run must add none.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries("q140_part_pagerank")(spark, sf)
    assert(df.count() === 20)
    val afterFirst = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterFirst -- before).size <= 2,
      s"q140 may cache only the edge+degree indexes: ${(afterFirst -- before).mkString(",")}")
    assert(SparkEntry.queries("q140_part_pagerank")(spark, sf).count() === 20)
    val afterSecond = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterSecond -- afterFirst).isEmpty,
      s"q140 re-runs must not accumulate caches: ${(afterSecond -- afterFirst).mkString(",")}")
    // localized result: evaluating it runs no join/shuffle lineage
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
  }

  test("q140: node-table broadcast hints hold only below the broadcast threshold") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val (edges, deg) = (Ext3.coEdges(spark, sf), Ext3.coDegrees(spark, sf))
    def hints(threshold: String): Int = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, threshold)
      try Ext2.pagerankTop(spark, edges, deg).queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }.size
      finally spark.conf.set(key, prev)
    }
    // deg and shares in each of the 3 rounds
    assert(hints("64MB") === 6)
    // the cached degree index is larger than 1 byte: the joins go to
    // the planner, which may still broadcast by its own size estimate
    assert(hints("1b") === 0)
    assert(hints("-1") === 0)
  }

  test("q141: skew audit is one scan fanned out + combined aggregates") {
    val p = plan("q141_key_skew_audit")
    assert(p.contains("Generate"), "map-side explode fan-out: " + p)
    assert(p.split("Scan parquet").length === 2, "ONE lineitem scan: " + p)
    assert(p.split("HashAggregate").length > 2, "map-side combine: " + p)
  }

  test("q142: PMI scoring joins are vocab-keyed, top-k avoids a sort") {
    val p = plan("q142_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"),
      "total-count rides as a literal, not a cross join: " + p)
  }

  test("q143/q144: carry-forward windows, no as-of self-join") {
    Seq("q143_last_touch_attribution", "q144_forward_fill_spend").foreach { q =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q: the touch/fill rides a window, not a range join: $p")
    }
  }

  test("q146/q149: cohort + streak plans stay on the user_id axis, no cartesian") {
    Seq("q146_cohort_retention", "q149_activity_streaks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
      assert(p.contains("HashAggregate"), s"$q: $p")
    }
  }

  test("q147: purchase filter pushed to the events scan, daily rollup combined") {
    val p = plan("q147_revenue_anomaly")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("event_type"), "purchase filter reaches the scan: " + p)
    assert(p.split("HashAggregate").length > 2, "map-side combine: " + p)
  }

  test("q148: markov transitions = one window + partial/final agg, no self-join") {
    val p = plan("q148_markov_transitions")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.split("Scan parquet").length === 2, "ONE events scan: " + p)
  }

  test("q150: triangle join runs on the cached support-pruned edge list, no cartesian") {
    val p = plan("q150_part_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "equi-joins only: " + p)
    assert(p.contains("InMemoryTableScan"),
      "triangle joins read the shared coPairs cache: " + p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q151: SNM windows are block-partitioned, never global") {
    val p = plan("q151_snm_candidates")
    assert(p.contains("Window"), p)
    assert(p.contains("blk"), "window partitions on the block key: " + p)
    assert(!p.contains("CartesianProduct"), "no all-pairs stage: " + p)
  }

  test("q152: session paths pivot by rank, top-k avoids a global sort") {
    val p = plan("q152_session_paths")
    assert(p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q153: vocab-sized df table broadcast into the scoring join") {
    val p = plan("q153_tficf_terms")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.split("HashAggregate").length > 2, "map-side combine: " + p)
  }

  test("q154: item-CF scores the support-pruned pair table, no cartesian") {
    val p = plan("q154_item_cf")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), "per-item rank window: " + p)
    assert(p.contains("cab"), "support filter prunes before scoring: " + p)
  }

  test("q155: KMV sketch windows partition by event_type, never global") {
    val p = plan("q155_kmv_sketch")
    assert(p.contains("Window"), p)
    assert(p.contains("event_type"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q156: latency histogram is one join + 9-row combined aggregate") {
    val p = plan("q156_latency_histogram")
    assert(p.split("HashAggregate").length > 2, "map-side combine: " + p)
    assert(!p.contains("CartesianProduct"), p)
    // scans prune to the 3 + 2 needed columns
    assert(!p.contains("l_comment") && !p.contains("o_totalprice"), p)
  }

  test("q157: each profile branch scans only its own column") {
    val p = plan("q157_column_profile")
    assert(p.contains("Union"), p)
    assert(!p.contains("Expand"),
      "per-branch distincts must not plan a row-widening Expand: " + p)
  }

  test("q158/q159: unpivot is map-only after the rollup; range frame has one sort") {
    val p1 = plan("q158_unpivot_status")
    assert(p1.contains("Expand") || p1.contains("Generate"),
      "melt is a map-side row expansion: " + p1)
    val p2 = plan("q159_range_frame_spend")
    assert(p2.contains("Window"), p2)
    assert(p2.contains("PushedFilters"), "purchase+user filters reach the scan: " + p2)
  }

  test("q160: attribution rides three windows over ONE events scan") {
    val p = plan("q160_linear_attribution")
    assert(p.split("Scan parquet").length === 2, "ONE events scan: " + p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), "no purchase-touch self-join: " + p)
  }

  test("q161: funnel timing joins on the user axis, percentile over cohort") {
    val p = plan("q161_funnel_timing")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("percentile"), p)
  }

  test("q162: array HOF lambdas stay map-side before the rollup") {
    val p = plan("q162_array_hof")
    assert(p.split("Scan parquet").length === 2, "ONE documents scan: " + p)
    assert(p.split("HashAggregate").length > 2, "map-side combine: " + p)
    assert(!p.contains("BatchEvalPython") && !p.contains("Generate"),
      "lambdas evaluate in-row, no UDF/explode detour: " + p)
  }

  test("q163: LATERAL top-n plans as partitioned window, no cartesian") {
    val p = plan("q163_lateral_topn")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"),
      "correlated LIMIT subquery rewrites to a per-key window: " + p)
  }

  test("q164: bitmap words AND-join co-partitioned on the word key") {
    val p = plan("q164_bitmap_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.split("Scan parquet").length === 2, "ONE events scan: " + p)
    assert(p.contains("bit_count") || p.contains("bit_or"),
      "bitmap kernels in-plan: " + p)
  }

  test("q165: pareto sweep windows the price vocabulary, no O(n²) anti-join") {
    val p = plan("q165_pareto_front")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "dominance must not plan an all-pairs join: " + p)
  }

  test("q166-q168: ranking and MAD plans partition their windows, one fact scan") {
    Seq("q166_rank_ties", "q167_percent_rank").foreach { q =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
    // r16: q168's distributed work is ONE fact scan + map-side-combined
    // rollup to the bounded (flag, quantity) vocabulary; the med/mad/
    // outlier cascade is exact integer arithmetic over the collected
    // ≤150-row vocabulary, so the returned plan is the pinned local
    // result — assert the plan carries no join/window machinery at all
    // (the cascade no longer schedules 23 jobs of 150-row joins).
    val p = plan("q168_mad_outliers")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), "no window in the pinned-result plan: " + p)
    assert(!p.contains("SortMergeJoin"), "no join in the pinned-result plan: " + p)
  }

  test("q169/q170: orphan matrix anti-joins and KMV algebra stay equi-join only") {
    Seq("q169_fk_orphan_matrix", "q170_kmv_overlap").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("q172/q173: rollup expands map-side; array top-3 is one grouped pass") {
    val p1 = plan("q172_grouping_markers")
    assert(p1.contains("Expand"), "rollup plans a map-side Expand: " + p1)
    assert(p1.split("HashAggregate").length > 2, "partial+final agg: " + p1)
    val p2 = plan("q173_top_suppliers_array")
    assert(!p2.contains("Window"), "no window needed — one grouped pass: " + p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("q175: prefix-filter join stays equi — no cartesian, no BNL") {
    // the PPJoin topology: candidates meet ONLY through a shared
    // prefix shingle (equi join on w); any nested-loop fallback would
    // mean the prefix self-join degenerated to all-pairs
    val p = plan("q175_prefix_filter_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q176: KS grid windows run over the histogram, after aggregation") {
    val p = plan("q176_ks_drift")
    assert(!p.contains("CartesianProduct"), p)
    // the ordered prefix-sum window sits ABOVE a HashAggregate (the
    // per-value histogram), never over raw documents
    val winIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      "expected a HashAggregate below the window: " + p)
  }

  test("q177: running sum is bucket-partitioned; offsets broadcast back") {
    val p = plan("q177_systematic_weighted_sample")
    assert(!p.contains("CartesianProduct"), p)
    // the doc-level window must carry the bucket partition spec
    assert(p.contains("windowspecdefinition(__b#"),
      "doc-level window must partition by bucket: " + p)
    // bucket offsets (#buckets rows) come back via broadcast join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("whole-stage codegen active on the scan-agg path") {
    // AQE finalizes the plan lazily; execute first, then inspect
    val df = SparkEntry.queries("q02_agg_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in simpleString
    assert(p.contains("*("), p)
  }

  test("q198: one rollup pass; the <= 25-nation tail is gathered once") {
    assertExchangeBudget("q198_theil_decomposition", shuffles = 3, broadcasts = 2)
  }

  test("q203: per-(type, bin) counts gathered once; probes need no join") {
    assertExchangeBudget("q203_binned_quantiles", shuffles = 3, broadcasts = 1)
  }

  test("q218: the 10-decile tail is gathered once; no 1-row total broadcast") {
    assertExchangeBudget("q218_gains_table", shuffles = 9, broadcasts = 3)
  }
}
