package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession recipe for every entry point (Bench, Verify,
  * Explain, the tools/ mains, and the test base).
  *
  * Centralized because the configs are load-bearing invariants, not
  * preferences:
  *   - `spark.sql.session.timeZone=UTC`: `Tables.events` normalizes a
  *     micros TIMESTAMP/TIMESTAMP_NTZ `ts` column to nanos-since-epoch by
  *     casting under the session zone. NTZ carries no zone, so a session
  *     inheriting a non-UTC JVM default would shift every event timestamp
  *     by the zone offset — windows/sessionization would silently diverge
  *     from the UTC-pinned verify/test sessions. Pinning it HERE (instead
  *     of per-main) makes the invariant unforgeable: a new tool can't
  *     forget it.
  *   - `nanosAsLong`: events.parquet ships TIMESTAMP(NANOS); read as
  *     nanos-epoch BIGINT to match DuckDB's epoch_ns oracle arithmetic.
  *   - shuffle.partitions sized to the local core count, not the 200
  *     default (local[n] has no cluster to absorb 200 tiny tasks).
  *   - AQE `initialPartitionNum` at 8× the core count: reduce-side
  *     parallelism must scale with DATA, not stay pinned to the core
  *     count — the sf10 probe (100× sf0.1) OOM'd the 16 GiB heap inside
  *     the triangle family's sort-merge join because 32 fixed reduce
  *     partitions each swallowed 1/32nd of a 100×-scale shuffle. With a
  *     high initial number, AQE plans every shuffle wide and COALESCES
  *     down when the runtime sizes are small, so sf0.01 queries keep
  *     their 32-ish tasks while the same binary survives 100× without
  *     retuning — exactly the knob a 1000-executor cluster job sets
  *     (initialPartitionNum ≈ 2-4× total cores) instead of hand-sizing
  *     shuffle.partitions per dataset.
  *   - codegen cache at 512 classes, not the 100 default: the cache is a
  *     Guava LRU split into 4 segments, so 100 means 25 per segment. A
  *     screen pass (Pipeline.compile + two MemoCache.through calls)
  *     generates 96 distinct classes and the 10 registry_light queries
  *     149; at 100 whichever segment the code hashes overfill re-compile
  *     (Janino, then JIT from cold) on every pass: 0, 24 or 44 classes a
  *     screen pass depending on the run, which spread perfbench's screen
  *     work_per_s over 2760–3790 1/s in three runs on 4 vCPUs. At 512
  *     both sets stay resident after their first pass, for ~2 MB of
  *     retained heap.
  *   - [[graft.plans.OnePartitionExchange]], always on: most registry
  *     tables and every small checkpoint are one partition, and each
  *     `orderBy`, aggregate or join over one paid a shuffle-map job (plus a
  *     range-sampling job) only for AQE to coalesce the result back into
  *     one partition. The rule replaces such an exchange by a one-partition
  *     coalesce, which satisfies every distribution whatever the input
  *     turns out to be at execution, so the answer cannot change; a switch
  *     would only add an untested plan shape. It fires less as the data
  *     grows (Spark splits files above 4 MB), so it needs no scale cut-off
  *     either. Injected here only: a session built from this builder must
  *     not add [[graft.functions.GraftExtensions]] too, or every plan runs
  *     the rule twice.
  */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "512")
      // TypedImperativeAggregate partials (gt5's smallest-k neighborhood
      // cap) run under ObjectHashAggregateExec, whose hash map falls back
      // to sort-based aggregation after this many distinct keys — the 128
      // default predates wide use and would sort nearly every partition
      // of a center-keyed aggregate. 256k keys × a lazily-grown O(k)
      // buffer keeps the worst-case map ≈ low hundreds of MB per task;
      // past that the sort fallback is the spill-safe right answer (both
      // paths still map-side combine to ≤k values per group before the
      // exchange).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      .withExtensions(_.injectQueryStagePrepRule(_ => graft.plans.OnePartitionExchange))
}
