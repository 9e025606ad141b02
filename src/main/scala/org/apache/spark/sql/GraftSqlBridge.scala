package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** The one deliberately-scoped bridge into Spark's `private[sql]` surface.
  *
  * Building a DataFrame from a custom [[LogicalPlan]] node (the tier-(c)
  * custom-operator path: LogicalPlan + Strategy + SparkPlan) requires
  * `Dataset.ofRows`, which Spark keeps `private[sql]` — the documented
  * workaround for extension libraries is a single file in this package.
  * Everything else in the engine goes through the public API; nothing else
  * may import this object's internals.
  */
object GraftSqlBridge {

  /** Wrap an (already analyzed) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan of a DataFrame (resolved attributes). */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Re-wrap a just-`localCheckpoint`'d frame over the SAME cached RDD,
    * dropping the `originStats` the checkpoint inherited from its source
    * plan.
    *
    * Why this exists (sf10-caught): `Dataset.localCheckpoint` carries the
    * pre-checkpoint plan's `Statistics` into the `LogicalRDD`, and the
    * size-only estimator's join visitor multiplies child sizes. In an
    * iterative operator that checkpoints per round and joins the previous
    * round's frame more than once (connected components: hook + pointer
    * jump), the carried sizeInBytes therefore grows as a PRODUCT of
    * products — bit-length multiplying every round — until driver-side
    * planning spends minutes in BigInteger multiplies and finally throws
    * `BigInteger would overflow supported range` (observed at sf10 in the
    * d7 dup-labels build; sf1 converged in fewer rounds and stayed under
    * the radar). Severing the origin stats resets each round to the
    * default size estimate; join strategy for these loop frames is AQE's
    * runtime call either way (the no-pinned-broadcast discipline), so
    * plans and results are unchanged — only the pathological estimate
    * arithmetic disappears.
    *
    * Spark-version pin: written against Spark 4.1.2's
    * `LogicalRDD(output, rdd, outputPartitioning, outputOrdering,
    * isStreaming, stream)(session, originStats, originConstraints)`.
    * `copy()(cs, None, None)` keeps every first-list field verbatim and
    * resets ONLY the curried origin pair (stats AND constraints — both
    * are origin-plan inheritances the fresh checkpoint must not carry);
    * the explicit second argument list means any upstream signature
    * change fails loudly at compile time instead of silently dropping a
    * new field the way the old positional-constructor spelling would.
    */
  def severStats(df: Dataset[_]): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    analyzed(df) match {
      case lr: execution.LogicalRDD =>
        classic.Dataset.ofRows(cs, lr.copy()(cs, None, None))
      case _ => df.toDF()
    }
  }

  /** Free a persisted RDD's blocks without blocking: the call
    * `RDD.unpersist` makes (`private[spark]`), minus the WARN it logs for
    * every locally checkpointed RDD (one per CC or k-means round). The
    * id leaves the persistent-RDD set exactly as with `RDD.unpersist`.
    */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Idempotently register an extra planner strategy on a live session —
    * lets custom-plan operators work on sessions built without
    * `withExtensions` (Verify/Bench/driver sessions).
    */
  def ensureStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }
}
