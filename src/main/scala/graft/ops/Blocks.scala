package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** The one checkpoint lifecycle: every materialization goes through
  * [[checkpoint]] (where a reliable-checkpoint switch would land), and the
  * helpers own the release discipline — checkpoint blocks stay cached
  * until unpersisted, so a long session (Bench: 100+ queries in one JVM)
  * would accumulate every round's. A returned frame stays cached for the
  * caller's lazy plan until the ContextCleaner reclaims it.
  */
private[graft] object Blocks {

  /** Local checkpoint of `df`; eager writes the blocks now (one job over
    * the checkpoint's own RDD, as Spark's eager form runs) and frees what
    * a failed job had written before rethrowing.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    if (eager)
      try rdds(cp).foreach(_.count())
      catch { case t: Throwable => unpersist(cp); throw t }
    cp
  }

  /** Free (asynchronously) the checkpoint blocks backing `df`, which must
    * be a checkpoint ROOT — the checkpoint itself or a narrow projection
    * over exactly one. Enforced: on a frame referencing several, freeing
    * "the first one found" could destroy unrecomputable data (lineage is
    * truncated) that a still-live sibling plan needs.
    */
  def unpersist(df: DataFrame): Unit = {
    val found = rdds(df)
    require(found.size <= 1,
      s"Blocks.unpersist expects a checkpoint root; found ${found.size} checkpointed inputs")
    found.foreach(GraftSqlBridge.unpersistRDD)
  }

  private def rdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Eagerly checkpoint `df` for `body` only, stats severed as in
    * [[iterate]]; freed on every exit.
    */
  def using[T](df: DataFrame)(body: DataFrame => T): T = {
    val cp = checkpoint(df)
    try body(GraftSqlBridge.severStats(cp)) finally unpersist(cp)
  }

  /** Eagerly checkpoint a small `result`, then `release` the larger frames
    * that built it, even when the checkpoint job fails (Bench catches per
    * query and keeps going, so a leak would pin them for the session).
    */
  def checkpointThenRelease(result: DataFrame)(release: => Unit): DataFrame =
    try checkpoint(result) finally release

  /** The round loop: `init` and each `step(live)` are eagerly checkpointed
    * with origin stats severed ([[GraftSqlBridge.severStats]]: carried
    * stats multiply through per-round joins until planning overflows);
    * each superseded round is freed, and the live one on any exception.
    * `None` runs exactly `maxRounds` rounds; `Some(test)` stops at the
    * first round passing `test` (a direct scan: `Observation` waits on the
    * listener bus, which stalled d8 for seconds) and fails if none does.
    */
  def iterate(init: DataFrame, maxRounds: Int,
              converged: Option[DataFrame => Boolean] = None)
             (step: DataFrame => DataFrame): DataFrame = {
    var live = GraftSqlBridge.severStats(checkpoint(init))
    try {
      var rounds = 0
      var done = false
      while (!done && rounds < maxRounds) {
        val next = GraftSqlBridge.severStats(checkpoint(step(live)))
        unpersist(live)
        live = next
        rounds += 1
        done = converged.exists(_(live))
      }
      require(done || converged.isEmpty,
        s"Blocks.iterate did not converge in $maxRounds rounds")
      live
    } catch { case t: Throwable => unpersist(live); throw t }
  }
}
