package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.lit

/** Spark 4 removed the public `new Column(expr)` constructor; the classic
  * bridge lives in `private[sql]` ExpressionUtils. This shim (inside the
  * sql package tree) re-exports the two conversions our custom expressions
  * need — the standard pattern for libraries registering native
  * expressions without a SessionExtensions round-trip — plus the one
  * internal-registry aggregate we call.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's bounded `collect_top_k` aggregate with `reverse = true`: the
    * k smallest values of `c`, ascending (structs compare field by field,
    * so a `(score, tie)` struct orders by score, then tie). Per-group
    * state is a k-entry priority queue through partial aggregation, so
    * map-side combine ships ≤k values per (group, partition). Spark
    * registers it only in its internal function registry.
    */
  def collectSmallestK(c: Column, k: Int): Column =
    Column.internalFn("collect_top_k", c, lit(k), lit(true))
}
