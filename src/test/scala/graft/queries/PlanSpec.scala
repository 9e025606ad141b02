package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Pins the documented physical-plan shapes (PLANS.md) for queries whose
  * scale story depends on a specific join strategy — a silent fallback
  * from broadcast to shuffle would still pass the correctness gate but
  * lose the plan we designed for.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** The query's initial adaptive plan, planned [[withSplits]]. */
  private def plan(name: String): String =
    withSplits(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString)

  /** Runs `body` with every sf0.001 file cut into several splits through
    * Spark's own `maxPartitionBytes`, as the files of the larger corpora
    * are: at one split each, [[graft.plans.OnePartitionExchange]] would drop
    * the exchanges these shapes pin. The conf is restored after, because
    * the session is shared.
    */
  private def withSplits[A](body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("e7 enrich: dim side broadcast, fact side never shuffled before the join") {
    val p = plan("e7_stream_static_enrich")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("t12 term-df: vocabulary stats broadcast back to the token stream") {
    val p = plan("t12_term_df_score")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("sim7: candidate generation is a broadcast join on (tbl, bucket)") {
    val p = plan("sim7_lsh_multitable")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("t16 outlier filter: per-source stats broadcast, corpus unshuffled") {
    val p = plan("t16_outlier_filter")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("d11 semantic dedup: bucket-blocked candidates, anti-join apply, no nested loop") {
    val p = plan("d11_semdedup_apply")
    assert(p.contains("LeftAnti"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("t14 mixture: a narrow Generate, no exchange before the output sort") {
    val p = plan("t14_source_mixture")
    assert(p.contains("Generate explode"), p.linesIterator.take(8).mkString("\n"))
    // the ONLY exchange is the deterministic output sort's range partitioning
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), exchanges.mkString("\n"))
  }

  test("hh1 heavy hitters: candidates broadcast for the exact re-verify") {
    val p = plan("hh1_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("s2 global rank: offsets broadcast; the data-side window is BIN-partitioned") {
    val p = plan("s2_global_rank")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
    // the corpus-side row_number window must carry the bin partition key —
    // an empty partition spec there would be the single-task global sort
    // this query exists to avoid
    assert(p.contains("windowspecdefinition(__bin"),
      p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
  }

  test("cdc1 scd2 merge: update keys broadcast into semi/anti, dim never shuffled") {
    val p = plan("cdc1_scd2_merge")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("pd1 chunk dedup: keep-first shuffles on the CHUNK value, no nested loop") {
    val p = plan("pd1_chunk_dedup")
    assert(p.contains("hashpartitioning(chunk"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("t18 bm25: df and corpus stats broadcast; term filter before the shuffle") {
    val p = plan("t18_bm25")
    // df (|Q| rows) broadcasts; the 1-row stats frame rides a broadcast
    // nested loop (a 1-row cross join is the cheap side of that plan)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
    // the query-term IN-filter must prune corpus tokens BEFORE any exchange
    // (plan text is top-down: upstream-of-shuffle = below the Exchange line)
    val lines = p.linesIterator.toSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    assert(firstExchange >= 0 &&
      lines.drop(firstExchange).exists(l =>
        l.contains("Filter") && l.contains(" IN (")),
      s"term IN-filter should sit below the first exchange:\n$p")
  }

  test("t17 bloom decontaminate: exact verify then anti-join, no nested loop") {
    val p = plan("t17_bloom_decontaminate")
    assert(p.contains("LeftAnti"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q17: part filter and per-part avg both broadcast, lineitem never " +
    "shuffled for the joins") {
    val p = plan("q17_small_quantity_revenue")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q18: post-HAVING survivors broadcast into orders then customer") {
    val p = plan("q18_large_volume_customers")
    val n = "BroadcastHashJoin".r.findAllIn(p).length
    assert(n == 2, s"expected 2 broadcast joins, got $n:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("fa2 cohort: one wide exchange serves distinct AND the cohort window") {
    val p = plan("fa2_cohort_retention")
    // exchanges: the user_id repartition, the tiny cell-aggregate re-key,
    // and the output rangepartitioning sort — the (user_id, day) distinct
    // and the min-over-user window must NOT add their own
    val n = "hashpartitioning".r.findAllIn(p).length
    assert(p.contains("Window"), p.linesIterator.take(5).mkString("\n"))
    assert(n <= 2, s"expected <=2 hash exchanges (repartition + cell agg), got $n:\n$p")
  }

  test("q21: both correlated subqueries ride the per-order aggregate's " +
    "exchange — windows add none; supplier dim broadcast") {
    val p = plan("q21_sole_problem_supplier")
    // hash exchanges: the (orderkey, suppkey) aggregate and the final
    // per-supplier count. The EXISTS / NOT-EXISTS window counts reuse the
    // first one (same orderkey key); naive spelling pays two more joins.
    val n = "hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$p")
    assert(p.contains("Window"), p.linesIterator.take(5).mkString("\n"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("q22: scalar avg broadcast; NOT EXISTS is an anti join, never a " +
    "nested loop on the fact side") {
    val p = plan("q22_idle_rich_customers")
    assert(p.contains("LeftAnti"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
    // the 1-row scalar side is the only nested-loop (that one is correct)
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("sky1 skyline: per-x stats broadcast back; corpus never self-joined") {
    val p = plan("sky1_pareto_frontier")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q2: correlated min rides the offer aggregate's exchange; part " +
    "filter pruned via broadcast semi before the shuffle") {
    val p = plan("q2_min_cost_supplier")
    val n = "hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$p")
    assert(p.contains("Window") && p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q11: global total computed FROM the per-part aggregate (1-row " +
    "broadcast), lineitem scanned once") {
    val p = plan("q11_important_value")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 2, s"expected <=2 scans (one may re-read the agg), got $scans:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin")) // the 1-row scalar side
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q13: per-customer count rides the sort-merge join's custkey " +
    "clustering — no exchange between join and aggregate") {
    val p = plan("q13_order_count_distribution")
    assert(p.contains("SortMergeJoin"), p.linesIterator.take(5).mkString("\n"))
    // 2 join-input exchanges + 1 tiny distribution exchange, nothing more
    val n = "hashpartitioning".r.findAllIn(p).length
    assert(n <= 3, s"expected <=3 hash exchanges, got $n:\n$p")
  }

  test("q16: flagged suppliers and part dims broadcast; only the distinct " +
    "supply pairs and the count-distinct phases shuffle") {
    val p = plan("q16_supplier_part_types")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q19: hand-extracted single-side bounds reach both scans as pushed " +
    "filters; the exact OR runs post-join") {
    val p = plan("q19_disjunctive_revenue")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(p.contains("In(p_brand"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("q20: per-part total rides the (part, supplier) aggregate's " +
    "exchange — the correlated HAVING costs no second scan") {
    val p = plan("q20_dominant_supplier")
    // repartition(partkey) + distinct(suppkey): exactly 2 hash exchanges
    val n = "hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$p")
    assert(p.contains("Window") && !p.contains("SortMergeJoin"))
    val liScans = p.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1, s"lineitem must be scanned once, got $liScans")
  }

  test("st1 stratified sample: a pure filtered scan — the only exchange " +
    "is the deterministic output sort") {
    val p = plan("st1_stratified_sample")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      exchanges.mkString("\n"))
  }

  test("gt2 triangles: edge-centric adjacency intersection — equi-joins " +
    "plus a generate, never a cartesian, no wedge materialization") {
    // r11: the intersection sweep lives in the shared tri_counts BUILD
    // (one enumeration serves gt1/gt2/gt4); the gt2 query itself is a
    // TakeOrdered over the checkpointed counts. Pin both layers: the
    // build keeps the Generate/array_intersect shape with no cartesian,
    // and the query plan is the pure top-k readout.
    val build = graft.queries.GraphQueries.triCountsBuildPlan(spark, sf)
    assert(build.contains("Generate") && build.contains("array_intersect"),
      build.linesIterator.take(8).mkString("\n"))
    assert(!build.contains("CartesianProduct") &&
      !build.contains("BroadcastNestedLoop"))
    val p = plan("gt2_triangle_top_nodes")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q4: the correlated EXISTS is ONE semi join carrying the cross-table " +
    "date comparison as a residual, never a per-order loop") {
    val p = plan("q4_priority_check")
    assert(p.contains("LeftSemi"), p.linesIterator.take(10).mkString("\n"))
    assert(p.contains("INTERVAL '60' DAY"),
      "date residual missing from the semi join:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q10: top-20 customers computed BEFORE any dim join — the only hash " +
    "exchange is the o_custkey revenue aggregate; customer never shuffles") {
    val p = plan("q10_returned_items")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(8).mkString("\n"))
    val hashEx =
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("o_custkey"),
      hashEx.mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q15: the scalar-max branch reuses the revenue view's exchange — " +
    "the fact table is scanned once at runtime") {
    val p = withSplits {
      val df = SparkEntry.queries("q15_top_supplier")(spark, sf)
      df.collect() // AQE finalizes stage reuse only during execution
      df.queryExecution.executedPlan.toString
    }
    assert(p.contains("ReusedExchange"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("gr1 pagerank: returned plan reads the SEVERED graph-base leaves " +
    "(r12 — no spliced build subtree, no per-call checkpoint lifecycle)") {
    val df = SparkEntry.queries("gr1_pagerank")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the outdeg-attached edge frame and the node set are the family
    // base's severed LogicalRDD leaves (r12: the persisted full-lineage
    // frames spliced the whole orders⋈lineitem build subtree into every
    // reference — plan-size-driven Catalyst/AQE cost per invocation);
    // joins never degrade to a cartesian
    assert(p.contains("Scan ExistingRDD"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("InMemoryTableScan"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("gr2 label propagation: returned plan reads the severed label " +
    "checkpoint — the O(|E|) edge cache was released inside the call") {
    val df = SparkEntry.queries("gr2_label_prop")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("InMemoryTableScan") && !p.contains("CartesianProduct"))
  }

  test("d16 span dedup: position Generate feeds the gram projection; one " +
    "window pass decides cross-doc, no self-join of the shingle stream") {
    val p = plan("d16_dup_spans")
    assert(p.contains("Generate explode"), p.linesIterator.take(8).mkString("\n"))
    // the cross-doc test is the min/max window — the old spelling's
    // groupBy-then-join would reappear as a SortMergeJoin/extra aggregate
    // over h; only the final per-doc rollup join remains
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.linesIterator.count(_.contains("Window [")) >= 2,
      p.linesIterator.filter(_.contains("Window")).mkString("\n")) // h test + island merge
  }

  test("t21 PMI: unigram and totals sides broadcast; pair stream never " +
    "self-joined") {
    val p = plan("t21_pmi_pairs")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("pa1 transitions: totals broadcast onto the pair counts; no " +
    "sort-merge join") {
    val p = plan("pa1_markov_transitions")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("e14 rolling actives: 7-day fan-out is a narrow Generate; the " +
    "calendar semi-join broadcasts the day domain, never a user-scale frame") {
    val p = plan("e14_rolling_active")
    assert(p.contains("Generate explode"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("pa2 top paths: the 20-row cut is TakeOrdered (per-partition heaps), " +
    "not a global sort") {
    val p = plan("pa2_top_paths")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("Window"))
    // the lead pair rides ONE user-keyed exchange; the trigram aggregate
    // re-keys on the tiny type³ domain — nothing else may shuffle
    val n = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(n <= 2, s"expected <=2 hash exchanges, got $n:\n$p")
  }

  test("w6 ewma: one user-keyed exchange feeds the window; the only other " +
    "exchange is the output range sort") {
    val p = plan("w6_ewma")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1 &&
      exchanges.count(_.contains("rangepartitioning")) == 1,
      exchanges.mkString("\n"))
  }

  test("t24 tf-idf top-k: the per-doc cut is a WindowGroupLimit (partial " +
    "group-limit before the exchange), never a global sort") {
    val p = plan("t24_tfidf_topk")
    assert(p.contains("WindowGroupLimit"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("e15 spike days: one aggregate exchange + one window re-key, " +
    "nothing else shuffles") {
    val p = plan("e15_spike_days")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) <= 2 &&
      exchanges.count(_.contains("rangepartitioning")) == 1,
      exchanges.mkString("\n"))
  }

  test("w7 cusum: ONE user-keyed exchange (the per-key fold never " +
    "re-shuffles) plus the output range sort") {
    val p = plan("w7_cusum")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1 &&
      exchanges.count(_.contains("rangepartitioning")) == 1,
      exchanges.mkString("\n"))
  }

  test("mm5 shard pack: the shard aggregate reuses the window's " +
    "kind-partitioning (subset rule) — one hash exchange total") {
    val p = plan("mm5_shard_pack")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1 &&
      exchanges.count(_.contains("rangepartitioning")) == 1,
      exchanges.mkString("\n"))
  }

  test("a13 weighted median: the cumulative window is PARTITIONED by group " +
    "(never a single-task global sort); <=2 hash exchanges on the fact path") {
    val p = plan("a13_weighted_median")
    // both window passes must carry the flag partition key
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("flag")), specs.mkString("\n"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) <= 2 &&
      !p.contains("CartesianProduct"), exchanges.mkString("\n"))
  }

  test("st3 ks test: ONE data-scale hash exchange (the cents aggregate); " +
    "the single-partition ECDF window runs over the reduced cell table only") {
    val p = plan("st3_ks_test")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    // data-scale side: exactly one keyed exchange, on the quantized grid
    assert(exchanges.count(_.contains("hashpartitioning")) <= 2,
      exchanges.mkString("\n"))
    assert(exchanges.exists(_.contains("cents")), exchanges.mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("d19 dup rate by source: pure keyed tail on the label base — no " +
    "nested loop, no cartesian anywhere") {
    val p = plan("d19_dup_rate_by_source")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("cdc2 snapshot diff: ONE keyed full-outer join — table-scale sides, " +
    "never broadcast, never nested-loop") {
    val p = plan("cdc2_snapshot_diff")
    assert(p.contains("FullOuter"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("dq3 referential integrity: six keyed anti-joins (3 rels x " +
    "orphans + unreferenced); only the 1-row audit results cross-join") {
    val p = plan("dq3_referential_integrity")
    assert(p.linesIterator.count(_.contains("LeftAnti")) >= 6,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("d20 minhash calibration: candidate pairs join their signatures by " +
    "key — no cartesian, no nested loop anywhere") {
    val p = plan("d20_minhash_jaccard_estimate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("gt5 link prediction: capped wedge fan-out is a Generate; the pair " +
    "stream crosses ONE exchange into the run-length pass (no hash " +
    "aggregate, no anti-join re-shuffle); the 20-row cut is TakeOrdered") {
    val p = plan("gt5_link_prediction")
    assert(p.contains("Generate"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    // the sort-based tail replaced the count aggregate + LeftAnti join:
    // the packed pair/edge union shuffles once and is consumed by the
    // typed run-length MapPartitions — no join operator remains
    assert(p.contains("MapPartitions"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("LeftAnti"))
    val pairExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("(k#"))
    assert(pairExchanges <= 1, p.linesIterator.filter(_.contains("Exchange"))
      .mkString("\n"))
  }

  test("t25 bigram cross-entropy: no cartesian; the scoring stream reaches " +
    "the bigram counts through an equi join (unhinted — t24 vocab rule)") {
    val p = plan("t25_bigram_crossent")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Join") && p.contains("w1"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("sim10 recall report: the exact∩approx overlap is a keyed semi-join " +
    "(the exhaustive tier is the sampled-query baseline by design)") {
    val p = plan("sim10_recall_report")
    assert(p.contains("LeftSemi"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("d21 canonical pick: ONE component-keyed hash exchange serves both " +
    "the row_number pick and the group-size count (window subset rule)") {
    val p = plan("d21_quality_canonical")
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("component")) == 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("st4 mann-whitney: ONE data-scale hash exchange (the cents " +
    "aggregate); the rank window runs over the reduced cell table only") {
    val p = plan("st4_mannwhitney")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) <= 2,
      exchanges.mkString("\n"))
    assert(exchanges.exists(_.contains("cents")), exchanges.mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("t26 novelty: first-seer aggregate read out directly — the posting " +
    "stream shuffles exactly once (the g-keyed min), never into a " +
    "posting-scale join-back") {
    val p = plan("t26_ngram_novelty")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // r12: n_novel rides groupBy(first_doc) off the aggregate, n_grams is
    // map-side size(); the old grams⋈firstSeen SMJ (two posting-scale
    // sorts) is gone
    assert(!p.contains("SortMergeJoin"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    val gramEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning(g#") ||
        l.contains("Exchange hashpartitioning(gs#")).toSeq
    assert(gramEx.size <= 1, gramEx.mkString("\n"))
  }

  test("w8 rolling corr: the ordered window runs over the reduced day " +
    "table — exactly one data-scale hash exchange (the daily aggregate)") {
    val p = plan("w8_rolling_corr")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) <= 1,
      exchanges.mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("st5 psi: one data-scale keyed aggregate to bin cells; the 1-row " +
    "totals broadcast back (no shuffled join on the cell table)") {
    val p = plan("st5_psi")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.linesIterator.take(8).mkString("\n")) // 1-row cross join is broadcast
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.count(_.contains("bin")) <= 2, exchanges.mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("e16 dow baseline: daily aggregate is the only data-scale exchange; " +
    "the dow window partitions the bounded day table") {
    val p = plan("e16_dow_baseline")
    assert(p.contains("Window"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("hh2 count-min: cells are a keyed aggregate (sketch-bounded), " +
    "probes join keyed — no cartesian, no nested loop") {
    val p = plan("hh2_countmin_calibration")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("t27 zipf: per-source rank cut is a window group limit over the " +
    "vocab-bounded count table") {
    val p = plan("t27_zipf_slope")
    assert(p.contains("WindowGroupLimit"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("d22 containment: pair set stays LSH-blocked (keyed joins back to " +
    "the shingle arrays, no all-pairs anywhere)") {
    val p = plan("d22_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("dq4 profile drift: per-column pruned aggregates (each union branch " +
    "scans exactly one column), the v1-v2 join broadcast on O(columns) rows") {
    val p = plan("dq4_profile_drift")
    assert(p.contains("HashAggregate") && p.contains("Union"),
      p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), // O(columns)-row join, never shuffled
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("d23 incremental span dedup: store probe is ONE keyed left join " +
    "(LeftOuter on h — the OR of store-hit and within-batch keeps it " +
    "outer), batch-scale shuffles only, no cartesian/nested loop") {
    val p = plan("d23_incremental_span_dedup")
    assert(p.contains("LeftOuter"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("hll1: the register table is a keyed aggregate (cell-bounded, " +
    "no window, no sort over events); day joins stay hash joins") {
    val p = plan("hll1_distinct_calibration")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    // rank-free by design: the whole sketch is aggregates + a 30-row join
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"))
  }

  /** The bounded top-k family (SmallestKLongsAgg, collect_top_k) runs as
    * an untyped object hash aggregate: no typed groupByKey's AppendColumns.
    */
  private def assertNativeTopK(p: String): Unit = {
    assert(p.contains("ObjectHashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("AppendColumns"),
      p.linesIterator.filter(_.contains("AppendColumns")).mkString("\n"))
  }

  test("sk1 bottom-k: the minima ride the native O(k)-buffer aggregate — " +
    "no row_number window, no per-day sort of the event rows") {
    val p = plan("sk1_bottomk_distinct")
    assertNativeTopK(p)
    assert(!p.contains("Window"),
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("sk2 KMV jaccard: union flags fold in ONE (p,u)-keyed aggregate; " +
    "minima bounded by the native aggregate; no window, no cartesian") {
    val p = plan("sk2_bottomk_jaccard")
    assertNativeTopK(p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.linesIterator.take(8).mkString("\n"))
  }

  test("gr6 assortativity: degree joins are hash joins (node-scale side " +
    "never nested-loop), one final all-column aggregate") {
    val p = plan("gr6_assortativity")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("e18 autocorr: the (type, day) aggregate is the only data-scale " +
    "exchange; the lag self-join runs on the calendar-bounded grid") {
    val p = plan("e18_autocorr")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("t29 vocab coverage: rank/cumulative window partitions by source " +
    "over the vocab-bounded count table (never an empty partition spec)") {
    val p = plan("t29_vocab_coverage")
    assert(p.contains("windowspecdefinition(source"),
      p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("sk3 CM join size: keyed aggregates only — no window, no sort of " +
    "the fact table, no cartesian (the 1-row est/exact frames broadcast)") {
    val p = plan("sk3_cm_join_size")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("sk4 AMS F2: one (day,user) aggregate + bounded 45-cell fan-out; " +
    "the rank window partitions by day over 9 group rows") {
    val p = plan("sk4_ams_f2")
    assert(p.contains("windowspecdefinition(day"),
      p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("hll2 rolling distinct: the day→window map joins BROADCAST onto " +
    "the register/day frames; no window function, no cartesian") {
    val p = plan("hll2_rolling_distinct")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("e19 decayed engagement: window-free — 1-row max-day broadcast, " +
    "one user-keyed aggregate, TakeOrdered top-20 (no global sort)") {
    val p = plan("e19_decayed_engagement")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("ab2 CUPED: two aggregates and a broadcast split constant — " +
    "no window, no shuffle join, no cartesian") {
    val p = plan("ab2_cuped")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"))
  }

  test("sr1 rank fusion: both sides cut by TakeOrdered heaps before any " +
    "rank window (ranks exist only to depth K); no cartesian") {
    val p = plan("sr1_rank_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("gr7 hyperball: register propagation is keyed aggregates + equi " +
    "joins — no window, no cartesian/nested-loop anywhere") {
    val p = plan("gr7_hyperball")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"))
  }

  test("sk5 new-users: minima ride the native O(k) aggregate (no window " +
    "sort of the union), no cartesian") {
    val p = plan("sk5_bottomk_new_users")
    assertNativeTopK(p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.linesIterator.take(8).mkString("\n"))
  }

  test("a8 top-k aggregate: bounded collect_top_k per customer — no " +
    "window sort of the order rows, no typed AppendColumns") {
    val p = plan("a8_topk_agg")
    assertNativeTopK(p)
    assert(!p.contains("Window"),
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("t30 confusion matrix: row totals broadcast back onto the bounded " +
    "cell table; corpus aggregates once") {
    val p = plan("t30_langid_confusion")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  test("t31 fertility: one source-keyed aggregate, no join at all") {
    val p = plan("t31_token_fertility")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join"), p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("t33 DSIR: one token-keyed count aggregate, vocab broadcast back, " +
    "no window, no shuffle join of the token stream") {
    val p = plan("t33_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  test("st10 z-test: one user-keyed aggregate to a 2-row cell table, " +
    "no window, no shuffle join") {
    val p = plan("st10_two_proportion_ztest")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window") &&
      !p.contains("CartesianProduct"))
  }

  test("sk6 HLL intersection: register tiers fold in keyed aggregates " +
    "over bounded cells — no window, no cartesian") {
    val p = plan("sk6_hll_intersection")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("sim12 PQ distortion: codebook broadcast against the corpus scan, " +
    "two keyed aggregates, no window, no shuffle join") {
    val p = plan("sim12_pq_distortion")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  test("d24 band sweep: every pair set band-blocked (equi self-joins), " +
    "no cartesian, no window") {
    val p = plan("d24_lsh_band_sweep")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("w10 holt: one keyed aggregate to the calendar-bounded series, " +
    "then a per-key fold — no window function, no join") {
    val p = plan("w10_holt_linear")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("Join"),
      p.linesIterator.filter(l => l.contains("Window") || l.contains("Join"))
        .mkString("\n"))
  }

  test("st11 gini: one keyed aggregate to value-domain cells; the ordered " +
    "prefix walk partitions by priority (never a global single partition)") {
    val p = plan("st11_gini")
    assert(p.contains("Window"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join"))
    // the window must be keyed on prio — an unpartitioned global window
    // would funnel every cell through one task
    val w = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(w.contains("prio"), w)
  }

  test("st12 kendall tau: the quadratic pair join runs on the calendar-" +
    "bounded daily table, broadcast — never on events") {
    val p = plan("st12_kendall_tau")
    assert(p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("w11 theil-sen: pair slopes from a broadcast self-join of the " +
    "daily series; no data-scale join") {
    val p = plan("w11_theil_sen")
    assert(p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("e20 conversion lag: ONE user-keyed aggregate, no join, no window") {
    val p = plan("e20_conversion_lag")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("pv3 generalize: the violating-group list joins back BROADCAST — " +
    "the fact scan is never shuffled") {
    val p = plan("pv3_generalize")
    assert(p.contains("BroadcastHashJoin"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("mm6 payload near-dup: band keys ride the one keyed self-join — " +
    "no cartesian, payload bytes never shuffle") {
    val p = plan("mm6_payload_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("e21 rfm: quintile breakpoints broadcast back — no global rank " +
    "window over users, no sort-merge join") {
    val p = plan("e21_rfm_scores")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("pv4 dp counts: one keyed aggregate, noise row-local — no join, " +
    "no window") {
    val p = plan("pv4_dp_noisy_count")
    assert(p.contains("HashAggregate"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("d25 source overlap: shingle-keyed equi self-join; the tiny pair " +
    "table joins sizes broadcast — no cartesian, no nested loop") {
    val p = plan("d25_source_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("cdc3 retractable agg: negated partials merge in keyed aggregates " +
    "over a Union — no join, no window; the retraction scan is filtered " +
    "at the source") {
    val p = plan("cdc3_retractable_agg")
    assert(p.contains("Union") && p.contains("HashAggregate"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("e22 streaks: every window partitioned by user — no global sort, " +
    "no join") {
    val p = plan("e22_activity_streaks")
    assert(p.contains("Window"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join"))
    val w = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(w.contains("user_id"), w)
  }

  test("w12 seasonal strength: the MA window partitions by event_type; " +
    "the dow-term fold joins the 1-row-per-type frames without shuffle " +
    "joins at data scale") {
    val p = plan("w12_seasonal_strength")
    assert(p.contains("Window"), p.linesIterator.take(8).mkString("\n"))
    val w = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(w.contains("event_type"), w)
    assert(!p.contains("CartesianProduct"))
  }

  test("ao7 nearest asof: two partitioned window passes + one keyed join " +
    "of error-scale frames — no nested loop, no cartesian") {
    val p = plan("ao7_asof_nearest")
    assert(p.contains("Window"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"))
  }

  test("sr2 mrr: scoring joins the broadcast query side; label joins stay " +
    "broadcast; no cartesian") {
    val p = plan("sr2_mrr")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("w13 changepoint: every window pass is user-partitioned and the " +
    "argmax rides a WindowGroupLimit, never a global sort") {
    val p = plan("w13_changepoint")
    val w = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(w.nonEmpty && w.forall(_.contains("user_id")), w.mkString("\n"))
    assert(p.contains("WindowGroupLimit"),
      p.linesIterator.take(8).mkString("\n"))
  }

  test("ab3 bootstrap: a narrow 32x Generate folded into a partial agg — " +
    "the only exchanges are the 32-group final agg and the output sort") {
    val p = plan("ab3_bootstrap_ci")
    assert(p.contains("Generate explode"),
      p.linesIterator.take(8).mkString("\n"))
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 2, ex.mkString("\n"))
    assert(!p.contains("Join"), "bootstrap must not join anything")
  }

  test("t34 inverted index: ONE term exchange carries dedup + df + the " +
    "O(k) head aggregate — no window sort of the posting stream") {
    val p = plan("t34_inverted_index")
    // r12: the rn <= cap window became SmallestKLongsAgg; the
    // (term, doc_id) dedup rides hashpartitioning(term) (subset rule)
    assert(p.contains("graft_smallest_k"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Window"), p.linesIterator.take(8).mkString("\n"))
    // exchanges: the term repartition + output range sort, nothing else
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 2, ex.mkString("\n"))
  }

  test("cdc4 delta join: all four branches join the dim by broadcast and " +
    "pre-aggregate to segment partials — no shuffle join") {
    val p = plan("cdc4_delta_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("cdc5 temporal join: the versioned dim broadcasts; the fact scan " +
    "never shuffles before the validity-interval join") {
    val p = plan("cdc5_temporal_join")
    assert(p.contains("BroadcastHashJoin"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("st13 mutual info: marginal windows run over the domain-bounded " +
    "cell table, after the one data-scale keyed aggregate") {
    val p = plan("st13_mutual_info")
    // the data-scale shuffle is the (type, dow) cell aggregate; windows
    // above it operate on <=35 rows so SinglePartition there is by design
    assert(p.contains("hashpartitioning(event_type"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"))
  }

  test("rj3 interval union: sweep-line windows ride ONE user partitioning, " +
    "no join anywhere") {
    val p = plan("rj3_interval_union")
    val w = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(w.nonEmpty && w.forall(_.contains("user_id")), w.mkString("\n"))
    assert(!p.contains("Join"))
    // the only hash exchange is the user partitioning both windows and
    // both aggregates reuse
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1, hashEx.mkString("\n"))
  }

  test("w14 backtest: calendar-bounded fold fan-out — one narrow Generate, " +
    "no join, final agg reuses the series partitioning") {
    val p = plan("w14_holt_backtest")
    assert(p.contains("Generate explode(sequence"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("Join"))
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 3, ex.mkString("\n")) // daily agg, series agg, sort
  }

  test("e23 fano: two keyed aggregates, no window, no join") {
    val p = plan("e23_fano_burstiness")
    assert(!p.contains("Join") && !p.contains("Window"))
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 3, ex.mkString("\n"))
  }

  test("e24 tier transitions: the period self-join is keyed (equi), the " +
    "share window runs over the domain-bounded matrix") {
    val p = plan("e24_tier_transitions")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    val w = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(w.nonEmpty && w.forall(_.contains("tier_from")), w.mkString("\n"))
  }

  test("sim13 truncation recall: both exhaustive sides broadcast the query " +
    "sample; overlap is a keyed semi-join — no unbounded nested loop") {
    val p = plan("sim13_truncation_recall")
    assert(p.contains("LeftSemi"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop joins are the sim1-style broadcast query sides
    val bnl = p.linesIterator.filter(_.contains("BroadcastNestedLoop")).toSeq
    assert(bnl.forall(_.contains("BuildRight")), bnl.mkString("\n"))
  }

  test("fh1 feature hashing: vocab-free — no join, one keyed aggregate") {
    val p = plan("fh1_feature_hashing")
    assert(!p.contains("Join"))
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 2, ex.mkString("\n")) // (doc,idx) agg + output sort
  }

  test("fe1 LOO target encoding: category stats broadcast, fact scan " +
    "never shuffled") {
    val p = plan("fe1_target_encoding_loo")
    assert(p.contains("BroadcastHashJoin"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("t35 boilerplate share: DF cut is an aggregate joined back " +
    "broadcast at gate scale — the posting stream is never window-SORTED") {
    val p = plan("t35_boilerplate_share")
    // r11: the per-shingle DF moved off `count over (partition by sh)` —
    // no window means no full sort of the fingerprinted posting stream
    assert(!p.contains("Window"), p.linesIterator.take(8).mkString("\n"))
    // the boiler minority attaches via an UNHINTED equi-join that the
    // planner broadcast-converts while it fits (SMJ is the documented
    // at-scale fallback, but at gate scale a silent SMJ would mean the
    // size estimate regressed)
    assert(p.contains("BroadcastHashJoin"),
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
    // keyed shuffle exchanges (r12): the DF side's shingle repartition,
    // the doc aggregate, the output sort — the probe stream reaches the
    // BHJ with NO keyed exchange (r12 moved the repartition off the
    // probe path; a broadcast probe side needs no distribution). The two
    // RoundRobin exchanges are Dedup.parallelize's 1-task-scan guard
    // (identical subtrees — AQE stage reuse dedups them at runtime).
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    val keyed = ex.filter(l => !l.contains("BroadcastExchange") &&
      !l.contains("RoundRobinPartitioning"))
    assert(keyed.size == 3, ex.mkString("\n"))
    assert(ex.count(_.contains("RoundRobinPartitioning")) <= 2,
      ex.mkString("\n"))
  }

  test("st15 p-chart: one daily keyed aggregate, 1-row stats broadcast " +
    "back — no shuffle join, no window") {
    val p = plan("st15_p_chart")
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastHashJoin"),
      p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  test("zm1 zone maps: one keyed aggregate per layout, no join, no window") {
    val p = plan("zm1_zonemap_prune")
    val ex = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(ex.size == 3, ex.mkString("\n")) // two zone aggs + output sort
    assert(!p.contains("Join") && !p.contains("Window"))
  }
}
