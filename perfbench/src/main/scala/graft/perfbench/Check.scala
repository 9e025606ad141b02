package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks that ride on the timed action itself: `df.observe` adds
  * one CollectMetrics node at the root of the plan, so the noop write that
  * is being timed also yields the row count and an order-independent
  * content hash (the exact decimal sum of a per-row xxhash64). No second
  * action runs the query again.
  */
object Check {

  case class Digest(rows: Long, hash: String)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType      => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs)  => fs.exists(f => hasMap(f.dataType))
    case _               => false
  }

  /** `df` with positional column names (duplicate or dotted names cannot
    * be ambiguous) and the digest observation attached.
    */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // xxhash64 rejects maps; their JSON rendering is deterministic
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation(name)
    (renamed.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(BigDecimal(0)).cast(DecimalType(38, 0)))
        .as("hash")), obs)
  }

  /** Blocks until the observed action has completed. */
  def digest(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long], m("hash").toString)
  }
}
