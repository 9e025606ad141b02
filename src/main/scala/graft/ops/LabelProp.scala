package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) — the fourth member
  * of the iterative-graph family (pagerank, triangles/k-core, connected
  * components). Deterministic variant: every node starts as its own label;
  * each round it adopts the MOST FREQUENT label among its neighbors, ties
  * broken by the smallest label — argmax-with-total-tie-order, so the
  * fixed unroll evaluates to the identical result on any engine and any
  * partitioning (classic async LPA is order-dependent by design; the
  * synchronous tie-ordered form is the reproducible one a pipeline wants).
  */
object LabelProp {

  /** `iters` synchronous LPA rounds over a SYMMETRIC edge list with
    * columns (a, b) — deduplicated internally on (a, b), riding the same
    * exchange (r11: callers used to pre-distinct, paying a second
    * (a, b)-keyed shuffle; hashpartitioning(b) satisfies the dedup's
    * clustering, so it is free here). Returns (id, lbl) for every node
    * with ≥1 edge.
    *
    * Scale contract (pagerank discipline): the edge table shuffles ONCE —
    * repartitioned by the probe side `b` and persisted, so each round
    * reshuffles only the O(|V|) label table against it. The per-round
    * tail pays ONE exchange on `a`: hash partitioning by `a` satisfies
    * the (a, lbl) count's clustering (subset rule) AND the packed-max
    * argmax's, so both aggregates ride the same layout.
    *
    * Lifecycle ([[Blocks.checkpointThenRelease]]): the O(|V|) label table
    * is eagerly checkpointed and the O(|E|) edge cache released INSIDE
    * the call. The first sf1 bench that carried gr2's lingering edge
    * cache into the triangle family
    * measured gt2 at 5-6× its usual time: a big persist that waits for GC
    * is a real memory tax on whatever runs next in the session.
    */
  def propagate(sym: DataFrame, iters: Int): DataFrame = {
    val e = sym.select(col("a"), col("b")).repartition(col("b"))
      .dropDuplicates("a", "b").persist()
    // r12: round 1 is evaluated ALGEBRAICALLY. With every node starting
    // as its own label, lbl(b) = b, so round 1's join against the
    // initial labels is the identity projection (a, b AS lbl) — and
    // because (a, b) is deduplicated, every (a, lbl) count is exactly 1,
    // so "most frequent neighbor label, ties to smallest" degenerates to
    // min(b). Round 1 is therefore ONE map-side-combined min aggregate
    // riding the edge cache; the 2|E|-row distinct that built the
    // initial label table, round 1's join/broadcast, AND round 1's
    // repartition(a) of 2|E| rows are all gone. Rounds 2+ run the real
    // propagate step. (iters = 0 keeps the explicit initial table.)
    var labels =
      if (iters == 0)
        e.select(col("a").as("id")).distinct().withColumn("lbl", col("id"))
      else
        e.groupBy(col("a")).agg(min(col("b")).as("lbl"))
          .select(col("a").as("id"), col("lbl"))
    for (_ <- 2 to iters) {
      // argmax-with-total-tie-order as a PACKED integer max (r11, guide
      // §2.3/§2.4): the former row_number window re-SORTED the |E|-scale
      // (a, lbl, n) frame by (a, n desc, lbl) every round; max over
      // n·2^31 + (2^31−1−lbl) is strictly monotone in (n, −lbl) — same
      // winner, same tie to the smallest label — and both aggregates are
      // primitive-buffer HashAggregates riding the ONE repartition(a)
      // exchange (hashpartitioning(a) satisfies both clusterings), so the
      // round's tail is sort-free. Bounds: n ≤ degree < 2^31; a label
      // outside [0, 2^31) would decode wrong (2^31+5 as 5), so it raises.
      val lbl = when(col("lbl").between(0L, 2147483647L), col("lbl"))
        .otherwise(raise_error(lit(
          "LabelProp.propagate: node ids must lie in [0, 2^31) for the packed argmax")))
      labels = e.join(labels, col("b") === col("id"))
        .select(col("a"), col("lbl"))
        .repartition(col("a"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("n"))
        .groupBy(col("a"))
        .agg(max(col("n") * lit(2147483648L) +
          (lit(2147483647L) - lbl)).as("__packed"))
        .select(col("a").as("id"),
          (lit(2147483647L) - pmod(col("__packed"), lit(2147483648L)))
            .as("lbl"))
    }
    // sever lineage off the edge cache, released even if the job fails
    Blocks.checkpointThenRelease(labels)(e.unpersist())
  }
}
