package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase, Tables}
import graft.ops.{Blocks, Dedup}

/** Pins [[OnePartitionExchange]]: an exchange over one planned partition
  * becomes a one-partition coalesce (one job, same rows and order, also
  * when the scan runs as several partitions after all), and every exchange
  * whose input is not one partition, or that the user asked for, stays.
  */
class OnePartitionExchangeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private val split = "spark.sql.files.maxPartitionBytes" -> "1k"
  private val noBroadcast = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** A new session of the test context with `confs` set. `split` cuts every
    * sf0.001 file into several splits, so its plans keep their exchanges;
    * `noBroadcast` plans an equi-join as a sort-merge join.
    */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private lazy val multiSplit = session(split)

  /** `df`'s final adaptive plan, after running it. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(finalPlan(df)) { case e: ShuffleExchangeExec => e }

  private def hashShuffles(df: DataFrame): Int =
    shuffles(df).count(_.outputPartitioning.isInstanceOf[HashPartitioning])

  private def sortMergeJoins(df: DataFrame): Int =
    collect(finalPlan(df)) { case j: SortMergeJoinExec => j }.size

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s }.get

  test("(a) f10's sort over a one-split scan plans no exchange and runs one " +
    "job, with the multi-split plan's rows and order") {
    val df = SparkEntry.queries("f10_one_sided_range")(spark, sf)
    assert(OnePartitionExchange.splits(scanOf(df)).contains(1))
    assert(jobsDuring(spark)(df.collect()) == 1)
    assert(shuffles(df).isEmpty, finalPlan(df))
    assert(collect(finalPlan(df)) { case c: CoalesceExec => c.numPartitions } == Seq(1))
    val ref = SparkEntry.queries("f10_one_sided_range")(multiSplit, sf)
    assert(shuffles(ref).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
    assert(df.collect().toSeq == ref.collect().toSeq)
  }

  test("(b) a sort-merge join with one one-partition side keeps both side " +
    "exchanges") {
    val s = session(noBroadcast)
    val cust = Tables.customer(s, sf).select("c_custkey", "c_nationkey")
    val ids = s.range(0, 400, 1, 4).select(col("id").as("c_custkey"), (col("id") % 7).as("m"))
    val df = cust.join(ids, "c_custkey")
    assert(sortMergeJoins(df) == 1 && hashShuffles(df) == 2, finalPlan(df))
    val expected = cust.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      .collect { case (k, n) if k < 400 => Row(k, n, k % 7) }.toSet
    assert(df.collect().toSet == expected)
  }

  test("(c) a sort-merge join of two one-partition sides has no exchange") {
    val q = (s: SparkSession) =>
      Tables.orders(s, sf).select("o_orderkey", "o_custkey")
        .join(Tables.customer(s, sf).select(col("c_custkey").as("o_custkey"), col("c_name")),
          "o_custkey")
    val df = q(session(noBroadcast))
    assert(sortMergeJoins(df) == 1 && shuffles(df).isEmpty, finalPlan(df))
    val ref = q(session(noBroadcast, split))
    assert(sortMergeJoins(ref) == 1 && hashShuffles(ref) == 2)
    assert(df.collect().toSet == ref.collect().toSet && df.count() == ref.count())
  }

  test("(d) repartition(n) and Dedup.parallelize over a one-split scan keep " +
    "their exchange") {
    val cust = Tables.customer(spark, sf)
    assert(cust.rdd.getNumPartitions == 1)
    val byNum = (d: DataFrame) =>
      shuffles(d.groupBy("c_nationkey").count()).exists(_.shuffleOrigin == REPARTITION_BY_NUM)
    assert(byNum(cust.repartition(3)))
    val spread = Dedup.parallelize(cust)
    assert(spread.rdd.getNumPartitions > 1 && byNum(spread))
  }

  test("(e) a global aggregate over sf0.1 lineitem (3 splits, one with rows) " +
    "keeps its SinglePartition exchange and returns one row") {
    val df = Tables.lineitem(spark, "/root/testdata/sf0.1")
      .agg(count(lit(1)).as("n"), max("l_orderkey").as("k"))
    val scan = scanOf(df)
    assert(OnePartitionExchange.splits(scan).contains(3))
    assert(OnePartitionExchange.splits(scan).contains(scan.inputRDD.getNumPartitions))
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getLong(0) > 0)
    assert(shuffles(df).exists(_.outputPartitioning == SinglePartition))
  }

  test("(f) a query over a one-partition Blocks.checkpoint drops its exchange") {
    val src = Tables.orders(spark, sf).select("o_custkey", "o_totalprice")
    val cp = Blocks.checkpoint(src)
    try {
      assert(cp.rdd.getNumPartitions == 1)
      val q = (d: DataFrame) => d.groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .orderBy("o_custkey")
      val df = q(cp)
      assert(jobsDuring(spark)(df.collect()) == 1)
      assert(shuffles(df).isEmpty)
      val ref = q(Tables.orders(multiSplit, sf).select("o_custkey", "o_totalprice"))
      assert(df.collect().toSeq == ref.collect().toSeq)
    } finally Blocks.unpersist(cp)
  }

  test("(g) a scan planned as one split that runs as several still gives a " +
    "global aggregate one row") {
    val q = (s: SparkSession) => Tables.orders(s, sf)
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("k"))
    val s = session()
    val df = q(s)
    assert(OnePartitionExchange.splits(scanOf(df)).contains(1))
    val planned = df.queryExecution.executedPlan
    assert(collect(planned) { case e: ShuffleExchangeExec => e }.isEmpty, planned)
    // the scan reads the conf again when it builds its RDD
    s.conf.set(split._1, split._2)
    val rows = df.collect()
    val ran = collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
    assert(ran.map(_.inputRDD.getNumPartitions) match { case Seq(n) => n > 1; case _ => false })
    assert(rows.toSeq == q(multiSplit).collect().toSeq)
  }
}
