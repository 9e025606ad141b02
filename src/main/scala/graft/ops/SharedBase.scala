package graft.ops

import org.apache.spark.sql.SparkSession

/** Keyed cache-and-release memo for expensive shared bases — the
  * checkpointed intermediates a FAMILY of queries reuses (the triangle
  * family's oriented edge list + adjacency arrays, the dedup family's
  * connected-component labels). Index-build discipline: built once per
  * (session, data dir, committed file set under the dir), shared by
  * every family member and every bench iteration.
  *
  * The file set is [[graft.Tables.fileSet]], the listing the table
  * catalog keys each schema on, so there is one notion of "same corpus":
  * a table rewritten, added or removed under the dir rebuilds the base
  * instead of serving the old rows, or a plan over files that no longer
  * exist. A rewrite of a table the builder does not read rebuilds too;
  * that is correct, and rare.
  *
  * Building for a NEW key releases the superseded value first,
  * so a long-lived session holds exactly one copy — the invariant
  * BlocksSpec pins (round 5 measured the alternative: per-invocation
  * checkpoints that were never unpersisted accumulated in the block
  * manager and their GC pressure inflated UNRELATED queries' timings).
  *
  * `release` is skipped when the superseded entry's session is already
  * stopped (its blocks died with the context). Keyed by session identity
  * so suites with independent sessions never cross-release each other's
  * blocks.
  *
  * Build-cost transparency (bench protocol, PLANS.md): when the
  * `graft.bench.timeBuilds` system property is set (Bench sets it), the
  * build — plus `materialize`, which forces any lazily-checkpointed
  * frames so the clock covers the real jobs, not just plan construction —
  * is timed and recorded in [[SharedBase.buildSeconds]] under `name`.
  * Bench emits these as the `builds` dict on its JSON line, so the warm
  * per-query medians the memo enables are never the only number an
  * artifact carries. Outside bench runs nothing is forced: explain-only
  * flows (a plan dump) still run zero jobs (round-5 ADVICE finding).
  */
private[graft] final class SharedBase[V](name: String,
                                         build: (SparkSession, String) => V,
                                         release: V => Unit,
                                         materialize: V => Unit = (_: V) => ()) {
  private var cache: Option[((SparkSession, String, AnyRef), V)] = None

  def get(s: SparkSession, d: String): V = {
    val key = (s, d, graft.Tables.fileSet(s, d))
    synchronized(cache match {
      case Some((k, v)) if k == key => v
      case prev =>
        prev.foreach { case ((ps, _, _), v) =>
          if (!ps.sparkContext.isStopped) release(v) }
        val t0 = System.nanoTime()
        val v = build(s, d)
        if (SharedBase.timing) {
          materialize(v)
          SharedBase.buildSeconds.update(name, (System.nanoTime() - t0) / 1e9)
        }
        cache = Some((key, v))
        v
    })
  }
}

private[graft] object SharedBase {
  /** Wall-clock seconds of each memoized base's most recent build, keyed
    * by base name. Populated only under `graft.bench.timeBuilds`.
    */
  val buildSeconds = new scala.collection.concurrent.TrieMap[String, Double]

  private[ops] def timing: Boolean = sys.props.contains("graft.bench.timeBuilds")
}
