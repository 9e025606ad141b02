package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.RangeJoinBinningRule

/** Plan evidence for RangeJoinBinningRule (PLANS.md): the AQE-final plan
  * of the same declarative range join, with the rule off (nested loop)
  * and on (binned equi-join).
  */
object RulePlanDump {
  def main(args: Array[String]): Unit = {
    // the range-join rule alone: all of GraftExtensions would inject
    // OnePartitionExchange a second time, after Sessions' own
    val spark = graft.Sessions.builder("local[8]", "8")
      .withExtensions(_.injectOptimizerRule(_ => RangeJoinBinningRule))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val p = (0 until 1000).map(i => (i.toLong, i * 0.7)).toDF("pid", "p")
    val iv = (0 until 100).map(i => (i.toLong, i * 7.0, i * 7.0 + 3.0))
      .toDF("iid", "lo", "hi")
    val cond = col("p") >= col("lo") && col("p") < col("hi")
    for ((label, width) <- Seq("rule OFF" -> None, "rule ON" -> Some("10.0"))) {
      width match {
        case Some(w) => spark.conf.set(RangeJoinBinningRule.ConfKey, w)
        case None    => spark.conf.unset(RangeJoinBinningRule.ConfKey)
      }
      val j = p.join(iv, cond)
      // collect(), not a noop write: the write runs a NEW QueryExecution
      // and leaves j's own adaptive plan at isFinalPlan=false
      j.collect()
      println(s"\n===== $label =====")
      println(j.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
