package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Num

/** Graph / dominance analytics over the corpus — the iterative-join tier.
  *
  * PageRank is the canonical "Spark has no operator for this" workload: a
  * loop of join + aggregate where the EDGE table is the 100-TB side. The
  * scale contract: edges are shuffled ONCE (repartition by src, persisted);
  * each iteration reshuffles only the O(|nodes|) rank table against it, and
  * pays the one unavoidable exchange on dst for the incoming-mass sum.
  * Unrolled (3 fixed iterations), both engines evaluate the same fixed
  * expression tree per iteration, with commutative accumulation in decimal
  * (Num) so partitioning order can never perturb a rank.
  *
  * The skyline (Pareto frontier) is the dominance-query companion: the
  * naive spelling is a quadratic NOT EXISTS self-join; here it collapses to
  * one keyed aggregate + a broadcast of per-x stats, because for 2-D
  * dominance "no point with x' ≥ x has y' ≥ y (strictly better somewhere)"
  * reduces to per-x maxima and a suffix-max over x — O(|distinct x|) state.
  * The DuckDB oracle keeps the quadratic NOT EXISTS spelling: hash-matching
  * it proves the rewrite exact.
  */
object GraphQueries extends QueryPack {

  // Damping constants as EXPLICIT double literals on both sides: Scala
  // "0.15" and DuckDB's DECIMAL-literal-to-DOUBLE promotion both yield the
  // nearest double to 15/100, but a computed `1 - 0.85` would not
  // (= 0.15000000000000002) — never derive one constant from the other.
  private val D = 0.85
  private val Teleport = 0.15

  // gt3's core threshold — one definition feeds the Spark filter and the
  // oracle's HAVING
  private val CoreK = 80

  // gr4's seed nation — one definition feeds the Spark filter and the
  // oracle's WHERE
  private val BfsNation = 3

  // gt5's per-center neighborhood cap (smallest ids win — deterministic on
  // both engines); bounds wedge-pair work per center at C(cap, 2) under
  // any degree skew
  private val MaxNbrs = 64

  // gr7's exact-calibration sample: absolute node-id cap (the
  // sim10/CENT_CAP rule). 4000 covers the entire sf0.001/sf0.01 node-id
  // range (max = 2·1500 custkeys), so gate results are unchanged there;
  // at larger corpora the quadratic exact side stops growing.
  private val Gr7Cap = 4000

  /** `hi·2^32 + lo`, raising on an id outside [0, 2^bits): beyond it the
    * packed BIGINT overflows or collides with another pair's key, and the
    * decoded pair is silently wrong. Null ids pass through as null.
    */
  private def packedPair(hi: Column, lo: Column, bits: Int, site: String): Column = {
    val bound = lit(1L << bits)
    when(hi < 0 || hi >= bound || lo < 0 || lo >= bound, raise_error(lit(
        s"$site: node ids must lie in [0, 2^$bits) for the packed pair key")))
      .otherwise(hi * lit(4294967296L) + lo)
  }

  /** Directed edges: customer→supplier for every (order, lineitem) pair,
    * plus supplier→customer back-edges on returned lines ('R') so the
    * graph has cycles and iteration is non-trivial. Node ids are bipartite
    * encoded (cust→2k, supp→2k+1: the key spaces overlap at 1..100).
    */
  private def rawEdges(s: SparkSession, d: String): DataFrame = {
    val oli = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_returnflag"),
        col("o_orderkey") === col("l_orderkey"))
    val fwd = oli.select((col("o_custkey") * 2).as("src"),
      (col("l_suppkey") * 2 + 1).as("dst"))
    val back = oli.filter(col("l_returnflag") === "R")
      .select((col("l_suppkey") * 2 + 1).as("src"),
        (col("o_custkey") * 2).as("dst"))
    fwd.union(back)
  }

  /** Shared base for the directed-graph family (r11, guide §2.4): the
    * edge build — orders⋈lineitem + union + distinct — re-ran per
    * invocation in SEVEN queries (gr1/gr2/gr4/gr5/gr6/gr7/gr8), and
    * gr1/gr4/gr5/gr8 each re-shuffled the result into their own
    * short-lived src-partitioned persist while gr1/gr4/gr7/gr8 also
    * re-derived the node set (gr7 twice — once in hbRegisters, once in
    * the readout). Memoized once per (session, dir, file set) under the
    * SharedBase protocol: build timed and disclosed in the bench
    * `builds` dict, superseded entries released, laziness preserved for
    * explain-only flows (tri_base discipline).
    *
    * Build spelling pays ONE exchange where the old per-query chain paid
    * two: union → repartition(src) → dropDuplicates (hashpartitioning on
    * src satisfies the (src, dst) dedup clustering — subset rule), and
    * the persisted frame keeps hashpartitioning(src) VISIBLE (persist,
    * not localCheckpoint — the r11 tri_base finding), so every consumer's
    * src-keyed groupBy/join plans with zero additional exchanges. `ed`
    * carries the out-degree alongside each edge (gr1/gr8's per-iteration
    * contribution table — derived from the cache, zero exchanges);
    * `nodes` is the shared union-distinct.
    *
    * Consumers return LAZY plans: the per-query eager localCheckpoint +
    * unpersist lifecycle existed to release each query's own |E|-scale
    * cache, which the shared base makes obsolete — its blocks live for
    * the session like tri_base's (~|E|·(16+24) + |V|·8 bytes).
    */
  /** `e`/`ed`/`nodes` are the persisted frames with visible partitioning
    * (the build derives `ed` from `e` with no exchange through it);
    * `eSev`/`edSev`/`nodesSev` are the SAME rows behind lazy
    * localCheckpoints — LogicalRDD leaves for the query consumers
    * (r12, gt3's severed-leaf finding generalized): with the persisted
    * (full-lineage) frames, every reference spliced the entire
    * orders⋈lineitem build subtree into the consumer's analyzed plan —
    * gr7 referenced edges 5× and planned a 494 KB tree, gr5/gr6 93 KB —
    * so each bench invocation paid Catalyst + AQE re-optimization over
    * thousands of spliced nodes (measured: gr6, two broadcast joins +
    * one aggregate over ~750 k cached rows, at a 5.1 s in-bench median).
    * The severed leaves cost UnknownPartitioning — but no gr consumer
    * actually rides the src-partitioning: the per-round mass/frontier
    * joins are AQE-broadcast, and every groupBy partial-aggregates to
    * node-scale before its exchange (gr5's groupBy(src) pays one small
    * extra exchange of partial rows; measured in the noise).
    */
  private[graft] final case class GraphBase(e: DataFrame, ed: DataFrame,
                                            nodes: DataFrame,
                                            eSev: DataFrame, edSev: DataFrame,
                                            nodesSev: DataFrame)

  private val graphBaseCache = new graft.ops.SharedBase[GraphBase](
    name = "gr_edges",
    build = (s, d) => {
      val e = rawEdges(s, d).repartition(col("src"))
        .dropDuplicates("src", "dst").persist()
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val ed = e.join(deg, "src").persist() // co-partitioned: no exchange
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct().persist()
      GraphBase(e, ed, nodes, graft.ops.Blocks.checkpoint(e, eager = false),
        graft.ops.Blocks.checkpoint(ed, eager = false),
        graft.ops.Blocks.checkpoint(nodes, eager = false))
    },
    release = gb => {
      graft.ops.Blocks.unpersist(gb.eSev)
      graft.ops.Blocks.unpersist(gb.edSev)
      graft.ops.Blocks.unpersist(gb.nodesSev)
      gb.e.unpersist(blocking = false)
      gb.ed.unpersist(blocking = false)
      gb.nodes.unpersist(blocking = false)
    },
    // count the SEVERED leaves: each reads through its persisted parent,
    // so one pass fills the cache AND materializes the checkpoint RDDs
    materialize = gb =>
      { gb.eSev.count(); gb.edSev.count(); gb.nodesSev.count(); () })

  private[graft] def graphBase(s: SparkSession, d: String): GraphBase =
    graphBaseCache.get(s, d)

  /** Undirected co-purchase graph: parts are adjacent iff some order
    * contains both. The per-order self-join's fan-out is C(order size, 2)
    * — bounded by the biggest order, never by |graph|.
    */
  private def coEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    pairs.join(pairs.select(col("o"), col("p").as("p2")), "o")
      .filter(col("p") < col("p2"))
      .select(col("p").as("u"), col("p2").as("v")).distinct()
  }

  /** Shared base for the triangle family: the degree-oriented,
    * localCheckpoint'd edge list plus the per-source sorted adjacency
    * arrays derived from it (also checkpointed — both feed every
    * invocation of gt1/gt2).
    */
  /** `oriented`/`adj` are persisted WITH their src-hash partitioning
    * visible (the r11 exchange-elimination contract). `orientedSevered`
    * is the same rows behind a lazy localCheckpoint — a LogicalRDD leaf
    * for ITERATIVE consumers: gt3's 3-round unrolled peel references its
    * edge frame ~3^rounds times in one plan tree, and with the persisted
    * (full-lineage) frame each occurrence splices the entire lineitem
    * self-join analyzed subtree — measured 1.6 s → 28.5 s at sf0.1
    * standalone, pure planning blow-up. The severed leaf restores the
    * pre-r11 shape (one narrow m-row copy, materialized once per
    * session, read from the cache).
    */
  private[graft] final case class TriBase(oriented: DataFrame, adj: DataFrame,
                                          orientedSevered: DataFrame)

  // Memoized triangle base ([[graft.ops.SharedBase]] cache-and-release) —
  // built ONCE per (session, dir, file set), reused by gt1, gt2, and every
  // bench iteration; round 5's per-invocation checkpoints were never
  // unpersisted and their accumulated blocks' GC pressure surfaced in UNRELATED
  // queries' timed windows (t1_langid ~1.0 s → ~1.9 s full-registry,
  // while unchanged standalone). Both frames are cached: `oriented`
  // feeds the enumeration joins AND gt1's edge census, `adj` feeds two
  // join sides — without the caching the whole lineitem self-join
  // chain re-executes per consumer (exchange reuse only spans one job).
  // ~2 longs × |edges| plus the m-entry adjacency arrays, modest.
  //
  // r11: persist() instead of localCheckpoint — a checkpoint under a
  // not-yet-final AQE plan records UnknownPartitioning into its
  // LogicalRDD (verified: the adjacency groupBy re-exchanged over the
  // checkpointed repartition), while InMemoryRelation keeps the cached
  // plan's outputPartitioning visible to Catalyst. With `oriented`
  // repartitioned by src BEFORE the cache, (a) the adjacency
  // groupBy("src") plans with NO exchange, and (b) the enumeration's
  // first join (on src) sees both sides — oriented, and adj which
  // inherits the same clustering through its alias — already
  // co-partitioned. The repartition replaces the adjacency aggregation's
  // exchange 1:1 on the build side (same m narrow rows shuffled) and
  // deletes exchanges from every enumerate consumer. Measured
  // (sf1, interleaved A/B; PLANS.md r11): adjacency stage 3.5-4.5 s
  // boxed/unpartitioned → 0.26 s native/pre-partitioned. A packed-pairs
  // rewrite of coEdges (collect_set → PackedPairsExpr → distinct on one
  // BIGINT) was measured and REJECTED: 4.5-6.4 s vs 3.2-5.8 s for the
  // self-join — AQE's plan for the (o,p) self-join already beats the
  // per-order array buffering.
  //
  // Laziness contract unchanged: persist is lazy, blocks materialize
  // under the first consumer's action — a plan dump runs no jobs
  // (ADVICE round-5 finding).
  private val triBaseCache = new graft.ops.SharedBase[TriBase](
    name = "tri_base",
    build = (s, d) => {
      val oriented = graft.ops.Triangles.orient(coEdges(s, d), "u", "v")
        .repartition(col("src"))
        .persist()
      val adj = graft.ops.Triangles.adjacency(oriented)
        .persist()
      TriBase(oriented, adj, graft.ops.Blocks.checkpoint(oriented, eager = false))
    },
    release = tb => {
      graft.ops.Blocks.unpersist(tb.orientedSevered)
      tb.oriented.unpersist(blocking = false)
      tb.adj.unpersist(blocking = false)
    },
    // bench-only (graft.bench.timeBuilds): both frames are lazy
    // checkpoints, so the honest build cost — the lineitem self-join,
    // orientation, adjacency aggregation — only exists under an action;
    // count() forces the blocks inside the timed build window
    materialize = tb =>
      { tb.oriented.count(); tb.adj.count(); tb.orientedSevered.count(); () })

  private[graft] def triBase(s: SparkSession, d: String): TriBase =
    triBaseCache.get(s, d)

  /** Triangles by degree orientation + edge-centric adjacency
    * intersection: orient every edge from its lower-(degree, id) endpoint,
    * then for each oriented edge (a, b) every w ∈ adj(a) ∩ adj(b) closes
    * the triangle a→b, a→w, b→w. Orientation makes the per-triangle
    * source unique, so each triangle is emitted exactly once — as the
    * same (a, b, c) row the earlier wedge-then-semi-join spelling
    * produced, which the unchanged DuckDB hash gate proves.
    *
    * Why intersection beats generate-then-verify at scale: the wedge
    * spelling materializes and SHUFFLES O(m^1.5) candidate rows of which
    * only the closing fraction survives (a bloom pre-prune recovered part
    * of that waste, round 5); the intersection does the same O(Σ min(da,
    * db)) = O(m^1.5) WORK inside `array_intersect` per already-co-located
    * row, materializing only true triangles — two keyed joins of m-row
    * tables against the |V'|-row adjacency table, no candidate exchange
    * at all. Measured: sf0.1 family 15.3 → 2.6 s; sf1 gt1 40.8 → 9.4 s.
    */
  private def triangles(s: SparkSession, d: String): DataFrame = {
    val tb = triBase(s, d)
    graft.ops.Triangles.enumerate(tb.oriented, tb.adj)
  }

  // Per-node triangle participation — the SECOND memoized family base
  // (r11): gt1, gt2, and gt4 all consumed the full enumeration
  // independently, so a bench pass paid the O(m^1.5) intersection sweep
  // THREE times (sf10: ~140-150 s each, the three heaviest non-gt5
  // entries in BENCH_sf10.json). Every one of those consumers only needs
  // per-corner counts: gt1's census is Σn_tri/3 (each triangle credits
  // exactly 3 corners), gt2 is the top-20 of this frame, gt4 left-joins
  // it to degrees. The |V'|-row counts frame is what gets checkpointed —
  // the triangle rows themselves never persist (at sf10 they are ~40×
  // the node count). Build cost is timed and disclosed via SharedBase
  // (`tri_counts` in the bench builds dict), same discipline as
  // tri_base/dup_labels.
  private val triCountsCache = new graft.ops.SharedBase[DataFrame](
    name = "tri_counts",
    build = (s, d) => {
      graft.ops.Blocks.checkpoint(triangles(s, d)
        .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_tri")), eager = false)
    },
    release = df => graft.ops.Blocks.unpersist(df),
    materialize = df => { df.count(); () })

  private def triCounts(s: SparkSession, d: String): DataFrame =
    triCountsCache.get(s, d)

  /** Test hook (PlanSpec): the tri_counts build's physical plan. The
    * adjacency-intersection shape the gt2 plan test used to pin on the
    * query now lives here — one enumeration shared by gt1/gt2/gt4.
    */
  private[graft] def triCountsBuildPlan(s: SparkSession, d: String): String =
    triangles(s, d)
      .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_tri"))
      .queryExecution.executedPlan.toString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Global edge + triangle census of the co-purchase graph. The edge
    // count reads the cached oriented list (1:1 with co-edges — every edge
    // orients to exactly one row) instead of re-running the lineitem
    // self-join chain a second time.
    "gt1_triangle_count" -> ((s, d) => {
      // Σ per-node participation = 3 × triangle count (each triangle
      // credits its 3 corners exactly once in the tri_counts base)
      val tri = triCounts(s, d)
        .agg(coalesce(expr("sum(n_tri) div 3"), lit(0L)).as("n_triangles"))
      triBase(s, d).oriented.agg(count(lit(1)).as("n_edges"))
        .join(broadcast(tri)) // two 1-row sides
    }),

    // Per-node triangle participation, top 20 — each triangle credits all
    // three corners; ties broken by part id for a total order.
    "gt2_triangle_top_nodes" -> ((s, d) =>
      triCounts(s, d)
        .orderBy(col("n_tri").desc, col("part"))
        .limit(20)),

    // gt2's CROSS-SESSION form: oriented edges + adjacency served from
    // the content-keyed parquet store ([[graft.ops.PersistedBase]] —
    // d7b's discipline for the triangle family). A fresh session pays one
    // key probe over exactly the columns the base derives from
    // (lineitem's (l_orderkey, l_partkey) — nothing else feeds coEdges)
    // + two parquet reads instead of the lineitem self-join + orientation
    // + adjacency build (sf0.1: 4.2 s; sf10: 105 s). Cold build goes
    // through the in-session memo, so gt2 and gt2b share one build.
    "gt2b_triangle_top_persisted" -> ((s, d) => {
      val key = Tables.contentKey(s, d, "lineitem", "l_orderkey", "l_partkey")
      // version 1 = the r9 triBase closure; bump on any semantic change
      // to the co-purchase edge/adjacency derivation (PersistedBase rule)
      val oriented = graft.ops.PersistedBase.getOrBuild(
          s, "tri_oriented", key, version = 1) {
        triBase(s, d).oriented
      }
      val adj = graft.ops.PersistedBase.getOrBuild(
          s, "tri_adj", key, version = 1) {
        triBase(s, d).adj
      }
      graft.ops.Triangles.enumerate(oriented, adj)
        .select(explode(array(col("a"), col("b"), col("c"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n_tri"))
        .orderBy(col("n_tri").desc, col("part"))
        .limit(20)
    }),

    // Per-node local clustering coefficient — the classic graph-quality
    // readout (what fraction of each node's neighbor pairs are themselves
    // connected). Pure tail on the memoized family base: per-node triangle
    // participation (gt2's explode) left-joined to per-node degree (one
    // explode over the cached oriented list — each oriented row is exactly
    // one undirected edge, so endpoints count degree directly). The
    // coefficient 2·tri/(deg·(deg−1)) is emitted in INTEGER parts-per-
    // million (`div`): exact on both engines by construction, no
    // cross-engine float rounding to pin. deg==1 nodes have no neighbor
    // pair — coefficient defined as 0.
    "gt4_clustering_coeff" -> ((s, d) => {
      val tri = triCounts(s, d)
      triBase(s, d).oriented
        .select(explode(array(col("src"), col("dst"))).as("part"))
        .groupBy("part").agg(count(lit(1)).as("deg"))
        .join(tri, Seq("part"), "left")
        .select(col("part"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("cc_ppm",
          when(col("deg") >= 2,
            expr("(2000000 * n_tri) div (deg * (deg - 1))"))
            .otherwise(lit(0L)))
        .orderBy("part")
    }),

    // 3 unrolled peel rounds toward the 80-core (gr1's unrolled-iteration
    // discipline applied to subgraph decomposition): each round drops
    // nodes whose degree in the CURRENT induced subgraph is < 80 and
    // recomputes. k tuned to the gate corpus so the peel provably BITES
    // (sf0.01: 135 of 2000 parts peel, 1865 survive; at k=100 the whole
    // graph cascades away — the co-purchase graph is dense).
    // Fixed unroll ⇒ the same expression tree on both
    // engines; integer degree counts ⇒ hash-exact. Rides the memoized
    // family base: the oriented edge list IS the co-purchase edge set
    // (1:1), so the expensive lineitem self-join never re-runs. Per
    // round: one count aggregate + two semi-joins over a shrinking edge
    // set. The keep set is |V'| rows — deliberately UNHINTED (Triangles
    // .orient discipline): AQE broadcasts it at runtime while it fits
    // under spark.sql.adaptive.autoBroadcastJoinThreshold and otherwise
    // runs the same semi-joins keyed on the edge partitioning, so the
    // committed plan survives a node table too big to broadcast.
    // GraphPlanSpec pins the no-broadcast tier.
    "gt3_kcore_peel" -> ((s, d) => {
      // severed leaf, NOT the persisted frame: the unrolled loop
      // references `edges` ~3^3 times in one tree (see TriBase scaladoc)
      var edges = triBase(s, d).orientedSevered
        .select(col("src").as("u"), col("dst").as("v"))
      for (_ <- 1 to 3) {
        val keep = edges.select(explode(array(col("u"), col("v"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= CoreK).select("n")
        edges = edges
          .join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
      }
      edges.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg_in_core"))
        .orderBy("node")
    }),

    // Common-neighbors link prediction — rank the strongest NON-edges of
    // the co-purchase graph ("parts never bought together despite sharing
    // many co-purchase partners" = recommendation candidates). Wedge pairs
    // need each center's FULL neighborhood (triangle-style degree
    // orientation undercounts: it only sees the center's out-wedges), so
    // the hub blow-up is bounded the d6 way: each center's neighbor list
    // is capped at its MaxNbrs smallest neighbor ids — deterministic,
    // oracle-replicable, and the per-center pair work is ≤ C(64,2)
    // regardless of skew. One center-keyed aggregate + one pair-keyed
    // count + an anti-join against the (normalized) edge set + TakeOrdered.
    "gt5_link_prediction" -> ((s, d) => {
      val tb = triBase(s, d)
      val sym = tb.oriented.select(
          explode(array(
            struct(col("src").as("c"), col("dst").as("n")),
            struct(col("dst").as("c"), col("src").as("n")))).as("e"))
        .select(col("e.c").as("c"), col("e.n").as("n"))
      // cap INSIDE the aggregation buffer (SmallestKLongsAgg, the native
      // TypedImperativeAggregate): per-center state is a hard O(64)
      // primitive array on ANY hub degree, and map-side combine ships
      // ≤64 ids per (center, partition) into the exchange. Rejected
      // alternatives, all measured: collect_list-then-slice buffers the
      // FULL neighborhood pre-slice (O(degree) on hot centers — the r7
      // ADVICE finding); a row_number window caps memory but pays a full
      // sort of the 2|E| symmetric edge list and ships every row (sf1:
      // 56 s → 104 s); the r8–r10 typed Aggregator spelling
      // (groupByKey.mapValues.agg, since deleted) kept the state bound
      // but paid a DeserializeToObject codegen break plus an
      // ExpressionEncoder List[Long] round-trip per partial output row —
      // the round-10 profile attributed 18.5 s of gt5's 40.3 s sf1 total
      // to it (see PLANS.md r11 for the native-agg before/after).
      val capped = sym.groupBy(col("c"))
        .agg(graft.functions.SmallestKLongsAgg
          .smallestK(col("n"), MaxNbrs).as("ns"))
      // The tail (count pair multiplicity → drop existing edges → top 20)
      // is ONE sort-based streaming pass instead of the earlier
      // hash-aggregate + anti-join + global sort. The earlier shape paid
      // three data-scale stages on a ~40M-row (sf0.1) / ~4G-row (sf10)
      // pair stream with ~1.3 rows/group: a partial hash aggregate that
      // barely reduced, a second full exchange to re-key the counted
      // pairs for the (u, v) anti-join, and a TakeOrdered over every
      // surviving group. Here every pair instance ships ONCE as a single
      // packed BIGINT — k = (u·2^32 + v)·2 + 1, with each existing edge
      // unioned in once as the marker k = (u·2^32 + v)·2 (part ids <
      // 2^30 keeps the pack under 2^63 through PB-scale corpora; ns is
      // sorted ascending so u < v and the pack preserves (u, v) order) —
      // into ONE uv-keyed exchange, gets radix-sorted within partitions,
      // and a run-length pass counts each run, skips runs opened by an
      // edge marker (the anti-join, for free — markers sort first), and
      // keeps the partition's top 20 in an O(20) buffer. 32×20 rows reach
      // the final TakeOrdered. Measured at sf1: 42 s → 17 s warm; exact
      // same rows (oracle hash unchanged at sf0.001/sf0.01). An
      // ap-threshold endpoint prune (n_common(u,v) ≤ min appearances of
      // u, v across capped lists) was measured and REJECTED: median
      // appearance count is 74 at sf0.1 while the top-20 floor is 8, so
      // the prune kept 98% of pair rows — the common-neighbor signal sits
      // too close to the noise floor for any safe candidate cut.
      // pair generation is a codegen'd native expression emitting ONE
      // primitive long[C(|ns|,2)] per center + the built-in (codegen)
      // explode — the earlier flatten(transform(slice)) spelling built
      // ~C(|ns|,2) boxed Longs inside |ns| nested temporaries per center
      // through interpreted lambdas (measured isolated, 3-iter medians:
      // sf1 66.8 → 40.3 s, sf10 611.6 → 342.6 s, same oracle hashes)
      val pairRows = capped.select(
        explode(graft.functions.Exprs.packedPairs(col("ns"))).as("k"))
      // edge markers share the pairs' [0, 2^30) keyspace
      val edgeRows = tb.oriented.select(
        (packedPair(least(col("src"), col("dst")), greatest(col("src"), col("dst")),
          30, "gt5_link_prediction") * 2).as("k"))
      val locals = graft.ops.TopPairs.runLengthTopK(
        s, pairRows.unionByName(edgeRows), 20)
      locals.toDF("uv", "n_common")
        .orderBy(col("n_common").desc, col("uv"))
        .limit(20)
        .select(expr("uv div 4294967296L").as("u"),
          (col("uv") % 4294967296L).as("v"), col("n_common"))
    }),

    // 3 unrolled PageRank iterations (mass form: avg node mass = 1, so
    // decimal quantization keeps ~5 significant digits; dangling mass is
    // not redistributed — both engines apply the identical convention).
    "gr1_pagerank" -> ((s, d) => {
      // edge side comes entirely from the shared family base (one shuffle
      // per SESSION, not per query): `ed` is src-partitioned with outdeg
      // attached, so each iteration reshuffles only the O(|V|) mass table
      // (r11 — before this every invocation rebuilt edges + deg + nodes
      // and paid its own persist / eager-checkpoint / unpersist jobs)
      val gb = graphBase(s, d)
      val ed = gb.edSev     // severed leaf (r12): see GraphBase scaladoc
      val nodes = gb.nodesSev
      var mass = nodes.withColumn("mass", lit(1.0))
      for (_ <- 1 to 3) {
        val incoming = ed.join(mass, col("src") === col("id"))
          .select(col("dst"), (col("mass") / col("outdeg")).as("contrib"))
          .groupBy("dst").agg(Num.dsum(col("contrib")).as("m_in"))
        mass = nodes.join(incoming, col("id") === col("dst"), "left")
          .select(col("id"),
            (lit(Teleport) + lit(D) * coalesce(col("m_in"), lit(0.0))).as("mass"))
      }
      // lazy return (r11): the eager checkpoint-and-release existed to
      // free this query's own |E|-scale caches; the shared base owns the
      // blocks now, so the two extra jobs (materialize + checkpoint) go
      mass.select(col("id").as("node_id"), col("mass").as("pr_mass"))
        .orderBy(col("pr_mass").desc, col("node_id"))
        .limit(50)
    }),

    // Personalized PageRank — gr1's loop with teleport mass restricted to
    // a SEED set (the "related to these accounts" recommendation /
    // fraud-neighborhood primitive; unnormalized seed indicator, so ranks
    // are proportional to the standard e_S-teleport PPR). Arithmetic is
    // SCALED-INTEGER with floor division — mass in units of 10^-9,
    // contrib = m div outdeg, m' = (15·10^9·s + 85·m_in) div 100, all in
    // plain BIGINT — because gr8's float spelling hit the exact Num
    // decimal-pin caveat at sf0.001 (seed masses are CLEAN constants, and
    // 0.15/outdeg can land on a scale-6 rounding tie the two engines
    // break differently; gr1's all-ones start never fed the pin a clean
    // short-decimal). Integer masses make every round exact and the sum
    // order-independent WITHOUT any pin — and LONG keeps the loop inside
    // whole-stage codegen: the first integer spelling used decimal(38,0),
    // whose precision leaves Spark's compact-long Decimal path, and the
    // BigDecimal boxing on the |E|-scale round measured 19.4× sf1→sf10
    // where gr1 reads 4.3×. Overflow headroom: the 85·m_in term needs
    // |S|·10^9·85 < 2^63, i.e. |S| ≲ 10^8 seeds — a personalized seed
    // set is orders below that (decimal is the fallback if one ever
    // isn't). Same scale contract as gr1: edges shuffled once (by src,
    // persisted), each unrolled round reshuffles only the O(|V|) mass
    // table; the result returns lazily over the shared family base.
    // Seeds: deterministic id residue (node id % 50 = 0).
    "gr8_personalized_pagerank" -> ((s, d) => {
      // shared family base (gr1's r11 note): ed/nodes are session-cached
      val gb = graphBase(s, d)
      val ed = gb.edSev     // severed leaf (r12): see GraphBase scaladoc
      val nodes = gb.nodesSev
      val seedScaled = when(col("id") % 50 === 0, lit(1000000000L))
        .otherwise(lit(0L))
      var mass = nodes.withColumn("m", seedScaled)
      for (_ <- 1 to 3) {
        val incoming = ed.join(mass, col("src") === col("id"))
          .select(col("dst"), expr("m div outdeg").as("contrib"))
          .groupBy("dst").agg(sum(col("contrib")).as("m_in"))
        mass = nodes.join(incoming, col("id") === col("dst"), "left")
          .select(col("id"),
            (lit(15) * seedScaled + lit(85) *
              coalesce(col("m_in"), lit(0L))).as("t"))
          .select(col("id"), expr("t div 100").as("m"))
      }
      // rank by the EXACT scaled mass; emit micros (div 10^3 at 1e-9
      // scale); lazy return — the base owns the blocks (gr1's r11 note)
      mass.orderBy(col("m").desc, col("id"))
        .limit(50)
        .select(col("id").as("node_id"),
          expr("m div 1000").as("ppr_micro"))
    }),

    // Synchronous label propagation, 3 unrolled rounds over the symmetric
    // co-purchase graph: most-frequent neighbor label, ties to the
    // smallest — the deterministic LPA variant (async LPA is
    // order-dependent by design; this one is bit-reproducible on any
    // engine/partitioning). See ops.LabelProp for the one-edge-shuffle +
    // one-tail-exchange-per-round scale contract.
    "gr2_label_prop" -> ((s, d) => {
      // shared base + dedup moved INTO LabelProp's own exchange (r11):
      // the former .distinct() here paid a full (a, b)-keyed shuffle of
      // 2|E| rows that propagate's repartition(b) immediately re-shuffled
      val e = graphBase(s, d).eSev // severed leaf (r12)
      val sym = e.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(col("dst").as("a"), col("src").as("b")))
      graft.ops.LabelProp.propagate(sym, 3)
        .select(col("id").as("node_id"), col("lbl").as("label"))
        .orderBy("node_id")
    }),

    // Entity-linking connected components — the identity-resolution shape
    // (link accounts that share an attribute; emit one canonical id per
    // linked group). Graph: the "suspicious returns" bipartite subgraph —
    // customer—supplier edges from URGENT orders whose lines came back
    // returned at near-max quantity. The filter is the point at 100 TB:
    // CC runs on the O(suspicious-activity) subpopulation the predicate
    // carves out of the fact table (153 edges / 67 components at sf0.01),
    // never on the full customer×supplier graph. Rides the SAME
    // pointer-jumping O(log diameter) CC as the dedup family
    // ([[graft.ops.Dedup.connectedComponents]]) — one operator, two
    // deployments. Component = min reachable node id; the DuckDB oracle
    // computes it as a recursive transitive closure (safe at gate scale
    // BECAUSE the subgraph is small; the Spark side never materializes
    // closures). Lifecycle: the O(touched nodes) result is checkpointed
    // and CC's label table released inside the call (Blocks helper).
    "gr3_components" -> ((s, d) => {
      val e = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d)
            .filter(col("l_returnflag") === "R" && col("l_quantity") >= 49)
            .select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      val cc = graft.ops.Dedup.connectedComponents(nodes, e, "id", "src", "dst")
      graft.ops.Blocks.checkpointThenRelease(cc)(graft.ops.Blocks.unpersist(cc))
        .select(col("id").as("node_id"), col("component"))
        .orderBy("node_id")
    }),

    // Multi-source BFS reach (3 unrolled hops) — the blast-radius /
    // contamination-propagation query: starting from every customer in
    // one nation, how far does influence travel along the directed
    // purchase graph (cust→supp, supp→cust only on returned lines)?
    // Emits (node, min hops ≤ 3) via [[graft.ops.Bfs.reach]] — see there
    // for the per-round join shape and the unhinted node-scale-frame
    // discipline (GraphPlanSpec pins the no-broadcast tier). Edges come
    // from the shared family base, which owns their blocks; gr4b is the
    // form that checkpoints the O(reached) result and releases its own
    // edge cache inside the call.
    "gr4_bfs_hops" -> ((s, d) => {
      // shared family base: edges stay src-partitioned for every round's
      // frontier semi-join; nodes no longer recomputed per call (r11)
      val gb = graphBase(s, d)
      val seeds = Tables.customer(s, d)
        .filter(col("c_nationkey") === BfsNation)
        .select((col("c_custkey") * 2).as("id"))
        .join(gb.nodesSev, Seq("id"), "left_semi")
      // severed edge leaf (r12): each of the 3 unrolled rounds references
      // the edge frame once — with the full-lineage persisted frame that
      // spliced the whole build subtree 3x into one plan
      graft.ops.Bfs.reach(gb.eSev, seeds, 3)
        .select(col("id").as("node_id"), col("hops").cast("int").as("hops"))
        .orderBy("node_id")
    }),

    // 2-D Pareto frontier of customers maximizing (order count, spend):
    // keyed aggregate → tiny per-x stats → broadcast back. A row survives
    // iff it holds its x-group's max y AND beats the best y of any
    // strictly-larger x (suffix max over the stats table).
    "sky1_pareto_frontier" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          Num.dsum(col("o_totalprice")).as("spend"))
      // |distinct n_orders| rows: window over the stats table is trivially
      // small (single-partition window on purpose — it is the REDUCED set)
      val stats = base.groupBy("n_orders")
        .agg(max(col("spend")).as("max_y"))
        .withColumn("best_above",
          max(col("max_y")).over(Window.orderBy(col("n_orders").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
      base.join(broadcast(stats), Seq("n_orders"))
        .filter(col("spend") === col("max_y") &&
          col("spend") > coalesce(col("best_above"),
            lit(Double.NegativeInfinity)))
        .select("c_custkey", "n_orders", "spend")
        .orderBy("n_orders", "c_custkey")
    }),

    // HITS hubs/authorities (2 unrolled rounds, UNNORMALIZED): the
    // directed-graph companion to gr1 — authority = incoming hub mass,
    // hub = outgoing authority mass. Dropping the per-round L2
    // normalization keeps every score an INTEGER (a1 = indegree,
    // h1 = Σ a1 over out-edges, a2 = Σ h1 over in-edges — directed-path
    // counts), so there is no float to drift and the ranking is identical
    // to the normalized iterate's (normalization is a positive scalar).
    // Scale contract = gr1's: the edge table is shuffled once per key
    // orientation it serves (a-steps aggregate on dst, the h-step on src),
    // each round joins only the O(|V|) score frame back — UNHINTED, so
    // AQE size-switches instead of pinning a |V|-row broadcast (the
    // Triangles.orient discipline). Lifecycle: O(|V|) result eagerly
    // checkpointed, the |E| cache released inside the call.
    "gr5_hits" -> ((s, d) => {
      val e = graphBase(s, d).eSev // severed leaf (r12): e referenced 3x
      val a1 = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("a1"))
      val h1 = e.join(a1, col("dst") === col("id"))
        .groupBy(col("src").as("id")).agg(sum(col("a1")).as("h1"))
      val a2 = e.join(h1, col("src") === col("id"))
        .groupBy(col("dst").as("id")).agg(sum(col("h1")).as("a2"))
      val scored = a2.join(h1.select(col("id"), col("h1")), Seq("id"), "left")
        .select(col("id").as("node_id"), col("a2").as("auth_score"),
          coalesce(col("h1"), lit(0L)).as("hub_score"))
        .orderBy(col("auth_score").desc, col("node_id"))
        .limit(40)
      scored // lazy — the shared base owns the edge blocks (r11)
    }),

    // Degree assortativity — the one-number mixing diagnostic (r > 0: hubs
    // link hubs; r < 0: hubs link leaves) that tells a graph pipeline
    // whether degree-based partitioning/salting will face hub-hub edge
    // hotspots. Pearson correlation of (deg(src), deg(dst)) over the
    // directed edges, computed EXACTLY: per-edge degree products sum into
    // DECIMAL(38,0) (M·Σxy reaches ~10^20 at sf1 — past BIGINT, nowhere
    // near decimal's 10^38), the three moment combinations stay integral,
    // and the only doubles are the final correctly-rounded casts, two
    // sqrt-of-exact-ints, and one divide — identical on both engines.
    // Scale shape: degree table is node-scale (NOT broadcast-pinned —
    // AQE may choose to at toy sf); two keyed edge×degree joins, one
    // all-column aggregate. No iteration, no windows.
    "gr6_assortativity" -> ((s, d) => {
      val e = graphBase(s, d).eSev // severed leaf (r12): e referenced 3x
      val deg = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val xy = e
        .join(deg.select(col("id").as("src"), col("deg").as("x")), "src")
        .join(deg.select(col("id").as("dst"), col("deg").as("y")), "dst")
      val a = xy.agg(
        count(lit(1)).as("m"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      a.select(col("m").as("m_edges"),
        ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
           sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity"))
    }),

    // HyperBall-style 2-hop neighborhood function: per-node |B2(v)| (nodes
    // reachable in ≤2 directed hops, self included) estimated by
    // propagating the portable HLL registers two rounds along edges —
    // the published at-scale recipe for graph distance distributions,
    // composed from this repo's own sketch core (graft.functions.Hll: one
    // definition feeds hll1, the streaming twin, and this). Scale shape
    // (r12): register frames are |V| rows of one PACKED m-byte binary
    // each; each round streams |E| + |V| rows through a bytewise-max
    // typed aggregate with map-side combine — O(t·|E|) rows total,
    // never materializing a ball (see hbRegisters). The EXACT ball sizes (a genuinely quadratic
    // 2-hop distinct-pair count) ride along as calibration per bipartite
    // side — exactly the cost the register path avoids at 100 TB — and
    // are therefore computed only for the Gr7Cap-SAMPLED start nodes
    // (the sim10/CENT_CAP absolute-cap rule: the cap covers the whole
    // sf0.001/sf0.01 node range, so gate results are unchanged there,
    // while at sf0.1+ the quadratic side stops growing with the corpus —
    // measured 35.9 s → sampled at sf0.1). Estimates are aggregated over
    // the SAME sample so the err readout stays apples-to-apples; the
    // register path itself still covers every node.
    "gr7_hyperball" -> ((s, d) => {
      // shared family base (r11): before this, one gr7 call derived the
      // node set TWICE from a freshly rebuilt edge frame (hbRegisters +
      // the readout) — two 2|E|-row union-distinct aggregates per call
      val gb = graphBase(s, d)
      // severed leaves (r12): gr7 references edges 4x (two propagation
      // joins + the exact-calibration side twice) — with full-lineage
      // frames the analyzed plan was 494 KB of spliced build subtrees
      hyperballReadout(gb.eSev, hbRegisters(gb.eSev, gb.nodesSev),
        gb.nodesSev)
    }),

    // gr7's CROSS-SESSION form: the propagated register table — the cost
    // of gr7 (two packed-register propagation rounds over |E| + |V|
    // rows each, r12) — served from the content-keyed parquet store, alongside the shared
    // persisted edge list ([[graft.ops.PersistedBase]], d7b/gt2b
    // discipline applied to the graph family per the round-9 verdict).
    // A fresh session pays two key-probe aggregates (one column-pruned
    // scan each over orders/lineitem — exactly the columns `edges`
    // derives from) + two parquet reads instead of the join+distinct
    // edge build and the two propagation rounds. Invalidation: any
    // change to an order/line key or a return flag changes the key and
    // both entries rebuild (registers ride the SAME key because they
    // derive from edges alone — a stale-register store would serve
    // wrong ball sizes). The readout tail (per-node HLL fold + the
    // Gr7Cap-sampled exact calibration) recomputes per call.
    "gr7b_hyperball_persisted" -> ((s, d) => {
      val key = graphEdgesKey(s, d)
      // versions = the r10 edges()/hbRegisters() closures; hb_registers
      // must ALSO bump whenever Hll's register constants change — the
      // key fingerprints source data only (PersistedBase rule)
      // cold build rides the in-session memo (gt2b's discipline — one
      // edge build serves gr7b AND the whole gr family); the store entry
      // is the same row set, so version stays 1
      val e = graft.ops.PersistedBase.getOrBuild(
          s, "graph_edges", key, version = 1) {
        graphBase(s, d).e
      }
      // nodes derive from the STORE-read frame (not the in-session base):
      // a warm session must pay parquet reads + this aggregate, never the
      // in-session edge build the store exists to skip
      val nodes = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
      // version 2 (r12): the stored register table changed shape — packed
      // (id, regs BINARY) instead of sparse (id, reg, rho) rows. Same
      // register CONTENT (HllRegsSpec parity), but a v1 entry must not be
      // served to the packed readout, so the version bumps per the
      // PersistedBase rule.
      val regs = graft.ops.PersistedBase.getOrBuild(
          s, "hb_registers", key, version = 2) {
        hbRegisters(e, nodes)
      }
      hyperballReadout(e, regs, nodes)
    }),

    // gr4's CROSS-SESSION form: the BFS rides the persisted edge list
    // (same store entry and content key as gr7b — one edge build serves
    // the whole graph family across sessions). The traversal itself
    // recomputes per call: it is seed-dependent and O(rounds · |E|)
    // joins over the already-built edges, while the join+distinct edge
    // construction is what every cold session was paying for.
    "gr4b_bfs_hops_persisted" -> ((s, d) => {
      val key = graphEdgesKey(s, d)
      // cold build rides the in-session memo (gt2b's discipline); same
      // row set as before, so the store version stays 1
      // r12: no per-call repartition(src) — every round's frontier
      // semi-join is AQE-broadcast (the node-scale tier), so the edge
      // side never needs src clustering; the old spelling paid one full
      // |E| exchange per invocation for nothing. persist stays: the
      // three round jobs each read the frame.
      val e = graft.ops.PersistedBase.getOrBuild(
          s, "graph_edges", key, version = 1) {
          graphBase(s, d).e
        }.persist()
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct().persist()
      val seeds = Tables.customer(s, d)
        .filter(col("c_nationkey") === BfsNation)
        .select((col("c_custkey") * 2).as("id"))
        .join(nodes, Seq("id"), "left_semi")
      val visited = graft.ops.Bfs.reach(e, seeds, 3)
      graft.ops.Blocks.checkpointThenRelease(visited) {
          e.unpersist(); nodes.unpersist()
        }
        .select(col("id").as("node_id"), col("hops").cast("int").as("hops"))
        .orderBy("node_id")
    }),
  )

  /** Shared content key for the persisted graph-family bases: one
    * order-independent fingerprint per source table, over EXACTLY the
    * columns [[edges]] derives from (two column-pruned aggregate scans —
    * the probe cost a new session pays instead of the build, once per
    * file set through the table catalog).
    */
  private[graft] def graphEdgesKey(s: SparkSession, d: String): String = {
    val ok = Tables.contentKey(s, d, "orders", "o_orderkey", "o_custkey")
    val lk = Tables.contentKey(s, d, "lineitem", "l_orderkey", "l_suppkey", "l_returnflag")
    s"$ok.$lk"
  }

  /** gr7's propagated register table (id, reg, rho after 2 rounds): the
    * HLL registers of every node's ≤2-hop out-ball, built by two rounds
    * of edge-keyed max-combine propagation — the data-scale cost of the
    * hyperball family and therefore the piece gr7b persists.
    */
  private def hbRegisters(e: DataFrame, nodes: DataFrame): DataFrame = {
    import graft.functions.{Hll, HllRegs, StableHash}
    val h = StableHash.polyHash64(
      concat(lit("n"), col("id").cast("string")))
    // r12 (guide §2.3, rows not just bytes): registers propagate PACKED —
    // one M-byte binary per node (byte i = max rho of register i) folded
    // with a bytewise-max typed aggregate — instead of one (id, reg, rho)
    // row per occupied register. The sparse spelling's round-2 edge join
    // fanned out |E| × |regs(dst)| rows (hubs near-saturate all M = 256
    // registers after round 1, so the mid-stage stream was ~100× the edge
    // count; in-bench medians 7–78 s under session memory pressure).
    // Packed, each round streams exactly |E| + |V| rows and the map-side
    // partial combine reduces every task to its ≤|V| node ids before the
    // exchange. Register CONTENT is identical (elementwise max is
    // order-free — HllRegsSpec pins parity against the sparse reference),
    // so the readout's integer operands and the oracle hashes are
    // unchanged.
    val r0 = nodes.select(col("id"),
      Hll.regCol(h).as("reg"), Hll.rhoCol(h).cast("int").as("rho"))
    // round 1 feeds round 2 TWICE (union arm + edge join). The packed
    // table is |V| rows × (8 + M) bytes — NODE-scale — so the
    // iteration-state rule says materialize (Bfs.reach's frontier
    // trade, not the old sparse register table's: that one was
    // effectively edge-scale and measured WORSE checkpointed —
    // PLANS.md r11).
    val r1 = graft.ops.Blocks.checkpoint(r0.unionAll(
        e.join(r0.withColumnRenamed("id", "nbr"), col("dst") === col("nbr"))
          .select(col("src").as("id"), col("reg"), col("rho")))
      .groupBy("id")
      .agg(HllRegs.initRegs(col("reg"), col("rho")).as("regs")))
    r1.unionAll(
        e.join(r1.withColumnRenamed("id", "nbr"), col("dst") === col("nbr"))
          .select(col("src").as("id"), col("regs")))
      .groupBy("id").agg(HllRegs.maxRegs(col("regs")).as("regs"))
  }

  /** gr7's readout tail: per-node HLL estimate from the register table
    * + the Gr7Cap-sampled exact calibration side, aggregated per
    * bipartite part (see gr7's scaladoc for the sampling rule).
    */
  private def hyperballReadout(e: DataFrame, s2: DataFrame,
                               nodes: DataFrame): DataFrame = {
    import graft.functions.{Hll, HllRegs}
    val M = Hll.M.toLong
    // packed register table (r12): one row per node already, so the old
    // per-node (id, reg)-rows aggregate collapses to a projection; the
    // stats expression reproduces the sparse readout's exact integers
    // (sp + zeros·MaxTerm) — see HllRegsStatsExpr
    val perNode = s2
      .select(col("id"), HllRegs.stats(col("regs")).as("__st"))
      .select(col("id"), col("__st").bitwiseAND(lit(511L)).as("used"),
        (lit(M) - col("__st").bitwiseAND(lit(511L))).as("zeros"),
        shiftright(col("__st"), 9).as("ssum"))
      .withColumn("raw_est",
        lit(Hll.Alpha) * lit((M * M).toDouble) * lit(Hll.MaxTerm.toDouble)
          / col("ssum").cast("double"))
      .withColumn("est",
        when(col("zeros") > 0 && col("raw_est") <= lit(2.5 * M),
          lit(M.toDouble) *
            (log(lit(M.toDouble)) - log(col("zeros").cast("double"))))
        .otherwise(col("raw_est")))
    val e1 = e.filter(col("src") < Gr7Cap) // first hop from sampled starts
    // r12, three exact-side cuts (same (v, u) pair SET, same counts):
    //  - b1's inner distinct is gone — it only fed b2's union, whose own
    //    distinct already dedups, so the extra pair-keyed exchange bought
    //    nothing;
    //  - pairs dedup PACKED as one BIGINT v·2^32 + u (node ids in
    //    [0, 2^31), enforced by packedPair): the distinct exchanges and
    //    compares 8-byte longs instead of 16-byte pairs, and the per-start
    //    count rides a shiftright of the same key;
    //  - the ball count partial-aggregates to ≤|starts| rows per task
    //    before its exchange.
    def pack(v: Column, u: Column) = packedPair(v, u, 31, "gr7_hyperball")
    val b1 = nodes.filter(col("id") < Gr7Cap)
      .select(pack(col("id"), col("id")).as("k"))
      .unionAll(e1.select(pack(col("src"), col("dst")).as("k")))
    val b2 = b1.unionAll(
        e1.select(col("src").as("v"), col("dst").as("w"))
          .join(e.select(col("src").as("w"), col("dst").as("u")), Seq("w"))
          .select(pack(col("v"), col("u")).as("k")))
      .distinct()
    val exact = b2.groupBy(shiftright(col("k"), 32).as("v"))
      .agg(count(lit(1)).as("ball"))
    perNode.join(exact, col("id") === col("v"))
      .groupBy((col("id") % 2).as("part"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("ball")).as("exact_pairs"),
        Num.dsum(col("est")).as("est_sum"))
      .withColumn("err_ppm",
        floor(lit(1000000.0) * abs(col("est_sum")
            - col("exact_pairs").cast("double"))
          / col("exact_pairs").cast("double")).cast("bigint"))
      .select("part", "n_nodes", "exact_pairs", "est_sum", "err_ppm")
      .orderBy("part")
  }

  private def edgesSql: String =
    """SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       UNION
       SELECT DISTINCT l_suppkey * 2 + 1, o_custkey * 2
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       WHERE l_returnflag = 'R'"""

  private def iterSql(prev: String): String =
    s"""SELECT n.id,
               0.15 + 0.85 * coalesce(s.m_in, 0.0) AS mass
        FROM nodes n LEFT JOIN (
          SELECT e.dst, ${Num.sqlSum(s"$prev.mass / deg.outdeg")} AS m_in
          FROM edges e
          JOIN $prev ON e.src = $prev.id
          JOIN deg ON e.src = deg.src
          GROUP BY e.dst) s ON n.id = s.dst"""

  // Shared naive-orientation (u < v by id) triangle CTE for the oracles.
  private def triSql: String =
    """pairs AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       edges AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p),
       tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM edges e1
               JOIN edges e2 ON e2.u = e1.v
               JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)"""

  // the persisted forms are SEMANTICALLY the same queries (the store only
  // changes where the base comes from), so they share one oracle each —
  // the hash gates prove the cold build, the warm serve, and the direct
  // computation all agree (appended below the literal)
  private val baseOracles: Map[String, String] = Map(
    "gr6_assortativity" ->
      s"""WITH e AS ($edgesSql),
          deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
                  FROM (SELECT src AS id FROM e
                        UNION ALL SELECT dst FROM e)
                  GROUP BY id),
          xy AS (SELECT dx.deg AS x, dy.deg AS y
                 FROM e JOIN deg dx ON dx.id = e.src
                        JOIN deg dy ON dy.id = e.dst),
          agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
                         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                         sum(x * x) AS sxx, sum(y * y) AS syy
                  FROM xy)
          SELECT m AS m_edges,
                 CAST(m * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
                   AS assortativity
          FROM agg""",
    "gt1_triangle_count" ->
      s"""WITH $triSql
          SELECT (SELECT count(*) FROM edges) AS n_edges,
                 count(*) AS n_triangles
          FROM tri""",
    "gt2_triangle_top_nodes" ->
      s"""WITH $triSql
          SELECT part, count(*) AS n_tri
          FROM (SELECT unnest([a, b, c]) AS part FROM tri)
          GROUP BY part ORDER BY n_tri DESC, part LIMIT 20""",
    // identical semantics to gt2 — the persistence tier must be invisible
    "gt2b_triangle_top_persisted" ->
      s"""WITH $triSql
          SELECT part, count(*) AS n_tri
          FROM (SELECT unnest([a, b, c]) AS part FROM tri)
          GROUP BY part ORDER BY n_tri DESC, part LIMIT 20""",
    // Degrees from the same edge CTE (each edge row contributes one to
    // both endpoints); integer ppm arithmetic mirrors the Spark `div`
    // exactly — // on BIGINT is floor division, all operands positive.
    "gt4_clustering_coeff" ->
      s"""WITH $triSql,
          degs AS (SELECT nd AS part, count(*) AS deg
                   FROM (SELECT unnest([u, v]) AS nd FROM edges)
                   GROUP BY nd),
          tpc AS (SELECT nd AS part, count(*) AS n_tri
                  FROM (SELECT unnest([a, b, c]) AS nd FROM tri)
                  GROUP BY nd)
          SELECT dg.part, dg.deg,
                 CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
                 CAST(CASE WHEN dg.deg >= 2
                   THEN (2000000 * coalesce(t.n_tri, 0))
                        // (dg.deg * (dg.deg - 1))
                   ELSE 0 END AS BIGINT) AS cc_ppm
          FROM degs dg LEFT JOIN tpc t USING (part)
          ORDER BY part""",

    "gt3_kcore_peel" -> {
      def round(prev: String, n: Int): String =
        s"""k$n AS (SELECT nd FROM (SELECT u AS nd FROM $prev
                                    UNION ALL SELECT v FROM $prev)
                    GROUP BY nd HAVING count(*) >= $CoreK),
            e$n AS (SELECT u, v FROM $prev
                    WHERE u IN (SELECT nd FROM k$n)
                      AND v IN (SELECT nd FROM k$n))"""
      s"""WITH pairs AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
                 FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p),
          ${round("e0", 1)},
          ${round("e1", 2)},
          ${round("e2", 3)}
          SELECT node, count(*) AS deg_in_core
          FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
          GROUP BY node ORDER BY node"""
    },

    // Same id-normalized edge set as triSql; the 64-cap is row_number
    // over neighbor id — identical to Spark's sorted-slice cap.
    "gt5_link_prediction" ->
      s"""WITH $triSql,
          sym AS (SELECT u AS c, v AS n FROM edges
                  UNION ALL SELECT v, u FROM edges),
          rk AS (SELECT c, n, row_number() OVER (PARTITION BY c ORDER BY n)
                   AS rn FROM sym),
          cap AS (SELECT c, n FROM rk WHERE rn <= $MaxNbrs),
          w AS (SELECT l.n AS u, r.n AS v
                FROM cap l JOIN cap r ON l.c = r.c AND l.n < r.n),
          cnt AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common
                  FROM w GROUP BY u, v)
          SELECT cnt.u, cnt.v, cnt.n_common
          FROM cnt LEFT JOIN edges e ON cnt.u = e.u AND cnt.v = e.v
          WHERE e.u IS NULL
          ORDER BY n_common DESC, cnt.u, cnt.v LIMIT 20""",

    "gr1_pagerank" ->
      s"""WITH edges AS ($edgesSql),
          nodes AS (SELECT src AS id FROM edges
                    UNION SELECT dst FROM edges),
          deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
          m0 AS (SELECT id, 1.0 AS mass FROM nodes),
          m1 AS (${iterSql("m0")}),
          m2 AS (${iterSql("m1")}),
          m3 AS (${iterSql("m2")})
          SELECT id AS node_id, mass AS pr_mass FROM m3
          ORDER BY pr_mass DESC, node_id LIMIT 50""",
    // scaled-integer twin: BIGINT masses, // floor division — exact
    "gr8_personalized_pagerank" -> {
      def pprIter(prev: String): String =
        s"""SELECT n.id,
                   (15 * (CASE WHEN n.id % 50 = 0
                          THEN CAST(1000000000 AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END)
                    + 85 * coalesce(s.m_in, CAST(0 AS BIGINT))) // 100 AS m
            FROM nodes n LEFT JOIN (
              SELECT e.dst, CAST(sum($prev.m // deg.outdeg) AS BIGINT)
                       AS m_in
              FROM edges e
              JOIN $prev ON e.src = $prev.id
              JOIN deg ON e.src = deg.src
              GROUP BY e.dst) s ON n.id = s.dst"""
      s"""WITH edges AS ($edgesSql),
          nodes AS (SELECT src AS id FROM edges
                    UNION SELECT dst FROM edges),
          deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
          m0 AS (SELECT id, CASE WHEN id % 50 = 0
                   THEN CAST(1000000000 AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS m FROM nodes),
          m1 AS (${pprIter("m0")}),
          m2 AS (${pprIter("m1")}),
          m3 AS (${pprIter("m2")})
          SELECT id AS node_id, m // 1000 AS ppr_micro
          FROM m3 ORDER BY m DESC, node_id LIMIT 50"""
    },
    "gr2_label_prop" -> {
      def round(i: Int, prev: String): String =
        s"""c$i AS (SELECT s.a, l.lbl, count(*) AS n
                    FROM sym s JOIN $prev l ON s.b = l.id
                    GROUP BY s.a, l.lbl),
            l$i AS (SELECT a AS id, lbl FROM c$i
                    QUALIFY row_number() OVER (PARTITION BY a
                      ORDER BY n DESC, lbl) = 1)"""
      s"""WITH e AS ($edgesSql),
          sym AS (SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM e
            UNION ALL SELECT dst, src FROM e)),
          l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM sym),
          ${round(1, "l0")},
          ${round(2, "l1")},
          ${round(3, "l2")}
          SELECT id AS node_id, lbl AS label FROM l3
          ORDER BY node_id"""
    },
    // Min-reachable-id via transitive closure: exact at gate scale
    // because the filtered subgraph is tiny (the Spark side never builds
    // a closure — hash-matching the pointer-jumping CC against it proves
    // the iterative algorithm exact).
    "gr3_components" ->
      """WITH RECURSIVE e0 AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE o_orderpriority = '1-URGENT'
             AND l_returnflag = 'R' AND l_quantity >= 49),
         sym AS (SELECT src AS a, dst AS b FROM e0
                 UNION SELECT dst, src FROM e0),
         reach AS (
           SELECT a AS id, b AS r FROM sym
           UNION
           SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a)
         SELECT id AS node_id, least(id, min(r)) AS component
         FROM reach GROUP BY id ORDER BY node_id""",
    "gr4_bfs_hops" ->
      s"""WITH e AS ($edgesSql),
          n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
          h0 AS (SELECT c_custkey * 2 AS id FROM customer
                 WHERE c_nationkey = $BfsNation
                   AND c_custkey * 2 IN (SELECT id FROM n)),
          f1 AS (SELECT DISTINCT dst AS id FROM e
                 WHERE src IN (SELECT id FROM h0)
                   AND dst NOT IN (SELECT id FROM h0)),
          f2 AS (SELECT DISTINCT dst AS id FROM e
                 WHERE src IN (SELECT id FROM f1)
                   AND dst NOT IN (SELECT id FROM h0
                                   UNION ALL SELECT id FROM f1)),
          f3 AS (SELECT DISTINCT dst AS id FROM e
                 WHERE src IN (SELECT id FROM f2)
                   AND dst NOT IN (SELECT id FROM h0
                                   UNION ALL SELECT id FROM f1
                                   UNION ALL SELECT id FROM f2))
          SELECT node_id, CAST(hops AS INT) AS hops FROM (
            SELECT id AS node_id, 0 AS hops FROM h0
            UNION ALL SELECT id, 1 FROM f1
            UNION ALL SELECT id, 2 FROM f2
            UNION ALL SELECT id, 3 FROM f3)
          ORDER BY node_id""",
    "sky1_pareto_frontier" ->
      s"""WITH base AS (SELECT o_custkey AS c_custkey, count(*) AS n_orders,
                               ${Num.sqlSum("o_totalprice")} AS spend
                        FROM orders GROUP BY o_custkey)
          SELECT c_custkey, n_orders, spend FROM base b
          WHERE NOT EXISTS (
            SELECT 1 FROM base a
            WHERE a.n_orders >= b.n_orders AND a.spend >= b.spend
              AND (a.n_orders > b.n_orders OR a.spend > b.spend))
          ORDER BY n_orders, c_custkey""",
    // unnormalized HITS: every score is an integer path count, so the
    // CTEs are plain integer aggregates (DuckDB sum() returns HUGEINT —
    // CAST back to BIGINT at each step, the st3 rule)
    "gr5_hits" ->
      s"""WITH e AS ($edgesSql),
          a1 AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS a1
                 FROM e GROUP BY dst),
          h1 AS (SELECT e.src AS id, CAST(sum(a1.a1) AS BIGINT) AS h1
                 FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src),
          a2 AS (SELECT e.dst AS id, CAST(sum(h1.h1) AS BIGINT) AS a2
                 FROM e JOIN h1 ON e.src = h1.id GROUP BY e.dst)
          SELECT a2.id AS node_id, a2.a2 AS auth_score,
                 CAST(coalesce(h1.h1, 0) AS BIGINT) AS hub_score
          FROM a2 LEFT JOIN h1 ON a2.id = h1.id
          ORDER BY auth_score DESC, node_id LIMIT 40""",

    "gr7_hyperball" -> {
      import graft.functions.{Hll, StableHash}
      val P = StableHash.P; val P2 = StableHash.P2
      val m = Hll.M; val w = Hll.W
      val ph = StableHash.polyHash64Sql("('n' || CAST(id AS VARCHAR))")
      s"""WITH e AS ($edgesSql),
          nodes AS (SELECT DISTINCT id FROM
                      (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
          hr AS (SELECT id, h // 2147483648 AS hp, h % 2147483648 AS hp2
                 FROM (SELECT id, $ph AS h FROM nodes)),
          r0p AS (SELECT id,
                         (hp * hp % $P + ${Hll.RA} * hp + ${Hll.RB}) % $P % $m
                           AS reg,
                         (hp2 * hp2 % $P2 + ${Hll.VA} * hp2 + ${Hll.VB}) % $P2
                           % ${Hll.SentBit} + ${Hll.SentBit} AS vv
                  FROM hr),
          r0 AS (SELECT id, reg,
                        CAST(length(bin(vv & -vv)) AS INT) AS rho
                 FROM r0p),
          s1 AS (SELECT id, reg, max(rho) AS rho FROM (
                   SELECT id, reg, rho FROM r0
                   UNION ALL
                   SELECT e.src AS id, r.reg, r.rho
                   FROM e JOIN r0 r ON r.id = e.dst)
                 GROUP BY id, reg),
          s2 AS (SELECT id, reg, max(rho) AS rho FROM (
                   SELECT id, reg, rho FROM s1
                   UNION ALL
                   SELECT e.src AS id, r.reg, r.rho
                   FROM e JOIN s1 r ON r.id = e.dst)
                 GROUP BY id, reg),
          pn AS (SELECT id,
                        CAST(sum(CAST(1 AS BIGINT) << (${w + 1} - rho))
                          AS BIGINT) AS sp,
                        CAST(count(*) AS BIGINT) AS used
                 FROM s2 GROUP BY id),
          st AS (SELECT id, used, $m - used AS zeros,
                        sp + ($m - used) * ${Hll.MaxTerm} AS ssum
                 FROM pn),
          pe AS (SELECT id, zeros,
                        CAST(${Hll.Alpha} AS DOUBLE)
                          * CAST(${m.toLong * m} AS DOUBLE)
                          * CAST(${Hll.MaxTerm} AS DOUBLE)
                          / CAST(ssum AS DOUBLE) AS raw_est
                 FROM st),
          fe AS (SELECT id,
                        CASE WHEN zeros > 0 AND raw_est <= ${2.5 * m}
                             THEN CAST($m AS DOUBLE)
                                  * (ln(CAST($m AS DOUBLE))
                                     - ln(CAST(zeros AS DOUBLE)))
                             ELSE raw_est END AS est
                 FROM pe),
          b1 AS (SELECT DISTINCT v, u FROM (
                   SELECT id AS v, id AS u FROM nodes WHERE id < $Gr7Cap
                   UNION ALL
                   SELECT src, dst FROM e WHERE src < $Gr7Cap)),
          b2 AS (SELECT DISTINCT v, u FROM (
                   SELECT v, u FROM b1
                   UNION ALL
                   SELECT e1.src AS v, e2.dst AS u
                   FROM e e1 JOIN e e2 ON e1.dst = e2.src
                   WHERE e1.src < $Gr7Cap)),
          ex AS (SELECT v, CAST(count(*) AS BIGINT) AS ball
                 FROM b2 GROUP BY v),
          ag AS (SELECT fe.id % 2 AS part,
                        CAST(count(*) AS BIGINT) AS n_nodes,
                        CAST(sum(ball) AS BIGINT) AS exact_pairs,
                        ${Num.sqlSum("est")} AS est_sum
                 FROM fe JOIN ex ON ex.v = fe.id GROUP BY 1)
          SELECT part, n_nodes, exact_pairs, est_sum,
                 CAST(floor(CAST(1000000 AS DOUBLE)
                        * abs(est_sum - CAST(exact_pairs AS DOUBLE))
                        / CAST(exact_pairs AS DOUBLE)) AS BIGINT) AS err_ppm
          FROM ag ORDER BY part"""
    },
  )

  val oracles: Map[String, String] = baseOracles ++ Map(
    "gr4b_bfs_hops_persisted" -> baseOracles("gr4_bfs_hops"),
    "gr7b_hyperball_persisted" -> baseOracles("gr7_hyperball"))
}
