package graft.domain

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** J6 / §4.3 — the cross-run memo cache, Spark-native.
  *
  * Reference: content-addressed sqlite memoization of every expensive
  * per-row operator (catlas/cache_utils.py:137-218), sharded 16⁴ ways to
  * bound writer contention, keyed by (function-code version, canonical
  * args).
  *
  * Spark design: one Parquet memo table per (operator, codeVersion) with
  * schema (key, value...). A stage run is:
  *
  *   misses = input ⟕anti memo   →   computed = f(misses)   →
  *   memo += computed            →   result = hits ∪ computed
  *
  * The two reference invariants survive: code-versioning invalidates stale
  * entries (version is in the path, cache_utils.py:102-131), and keys are
  * small content hashes, never heavy payloads (prediction_steps.py:322-331).
  * At scale the anti-join is a broadcast when the memo side's keys fit, or
  * a shuffled hash join keyed exactly like the subsequent append — and
  * crashed runs resume for free, which is the reference's fault-tolerance
  * story (SURVEY §4.2).
  */
class MemoCache(spark: SparkSession, root: String, operator: String, codeVersion: String) {

  private val path = s"$root/$operator/v=$codeVersion"

  /** The memo table, or None while nothing has been written to it. A table
    * that exists but cannot be read, or has no `key` column, is an error:
    * treating it as empty would recompute and append every key again.
    */
  def read(): Option[DataFrame] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // a directory holding only `_temporary`/`_SUCCESS`-style entries (a
    // crashed first write) has no committed rows yet
    val committed = fs.exists(dir) && fs.listStatus(dir).exists { f =>
      val name = f.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    if (!committed) None
    else {
      val df = spark.read.parquet(path)
      if (!df.columns.contains("key"))
        throw new IllegalStateException(s"memo table $path has no key column")
      Some(df)
    }
  }

  /** Run `compute` only for keys not yet memoized; the append-write is the
    * ONE execution of `compute` (the result handed back is re-read from the
    * memo table, so downstream actions never re-trigger the expensive UDF —
    * lazy DataFrames would otherwise recompute it per action).
    */
  def through(input: DataFrame, keyCol: String)
             (compute: DataFrame => DataFrame): DataFrame = {
    val keyed = input.withColumnRenamed(keyCol, "key")
    // dedup BOTH sides of the contract: duplicate content keys in the
    // input must compute once (the table is content-addressed, like the
    // reference's primary-keyed sqlite), and the read guards against a
    // historical double-append (e.g. a transient read() miss) so callers
    // never see key fan-out.
    val misses = (read() match {
      case None       => keyed
      case Some(memo) => keyed.join(memo.select("key"), Seq("key"), "left_anti")
    }).dropDuplicates("key")
    compute(misses).write.mode(SaveMode.Append).parquet(path)
    // semi-join FIRST, then dedup: the dedup then touches only the
    // requested keys instead of shuffling the whole (growing) memo table
    spark.read.parquet(path)
      .join(keyed.select("key").distinct(), Seq("key"), "left_semi")
      .dropDuplicates("key")
  }

  def size(): Long = read().map(_.count()).getOrElse(0L)
}
