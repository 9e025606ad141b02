package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triangle enumeration over an undirected simple graph, by degree
  * orientation + edge-centric adjacency intersection — the library form of
  * the gt1/gt2 plan (see `queries/GraphQueries` for the memoized,
  * checkpointed deployment and PLANS.md for the measured history).
  *
  * Why this shape at 100 TB: orienting every edge from its
  * lower-(degree, id) endpoint makes the orientation acyclic and bounds
  * every out-neighborhood at O(√2m) (the degeneracy argument), so (a) the
  * per-source `collect_list` can never blow a partition on a hub node and
  * (b) the total intersection work is the classic O(m^1.5) bound. Each
  * triangle has a UNIQUE source under the acyclic orientation, so it is
  * emitted exactly once — no post-hoc dedup. Only true triangles ever
  * materialize: candidate wedges — the m^1.5 ROW blow-up of the
  * generate-then-verify spelling — never exist as rows, the work happens
  * inside `array_intersect` on co-located data. Plan: one aggregation (the
  * adjacency build) + two keyed joins + a Generate; every exchange carries
  * O(m) rows.
  */
object Triangles {

  /** Degree-oriented edge list: each undirected edge {u, v} becomes one
    * row (src, dst) pointing from the lower-(degree, id) endpoint. Input
    * must be a simple undirected edge SET (each pair once, no self-loops);
    * duplicate input edges would double-orient and inflate counts.
    */
  def orient(edges: DataFrame, u: String, v: String): DataFrame = {
    val e = edges.select(col(u).as("u"), col(v).as("v"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // deg is |V| rows — NO broadcast hint: a static hint would pin a plan
    // that dies at 100 TB, where the node table is billions of rows and
    // exceeds any broadcast threshold at plan time. Unhinted, AQE
    // size-switches at runtime from the REAL shuffle stats: below
    // spark.sql.adaptive.autoBroadcastJoinThreshold the join converts to
    // broadcast-hash (with a local shuffle read on the edge side — no
    // repartitioned exchange), above it the same plan executes as two
    // keyed joins riding the edge shuffle. GraphPlanSpec pins the
    // node-scale tier: with the threshold off, no BroadcastExchange
    // appears and results are unchanged.
    e.join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t")))
          .as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"))
  }

  /** Per-source sorted out-neighbor arrays over an oriented edge list.
    * Orientation bounds every array at O(√2m) entries; the arrays total
    * exactly m entries. Ascending order only pins a deterministic
    * layout — intersection is order-insensitive.
    *
    * r11: the boxed `sort_array(collect_list(dst))` became the native
    * [[graft.functions.CollectSortedLongsAgg]] (primitive growable
    * buffer, one sort at final eval) — identical output, measured
    * 3.5-4.5 s → 1.4 s on the sf1 build (interleaved A/B, PLANS.md
    * r11); and when the caller pre-partitions `oriented` by src the
    * groupBy rides that partitioning with no exchange at all (0.26 s).
    */
  def adjacency(oriented: DataFrame): DataFrame =
    oriented.groupBy("src")
      .agg(graft.functions.CollectSortedLongsAgg
        .collectSorted(col("dst")).as("nbrs"))

  /** All triangles, one row (a, b, c) each: for every oriented edge
    * (a, b), each w ∈ adj(a) ∩ adj(b) closes the triangle a→b, a→w, b→w.
    * `oriented`/`adj` are taken as arguments (rather than derived here) so
    * a caller sharing them across queries can checkpoint them once.
    */
  def enumerate(oriented: DataFrame, adj: DataFrame): DataFrame =
    oriented
      .join(adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), Seq("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))

  /** Convenience: triangles of an undirected simple edge set, uncached.
    * Callers that enumerate more than once should `orient`/`adjacency`
    * themselves and checkpoint (GraphQueries discipline).
    */
  def of(edges: DataFrame, u: String, v: String): DataFrame = {
    val o = orient(edges, u, v)
    enumerate(o, adjacency(o))
  }
}
