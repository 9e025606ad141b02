package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Pins the native [[SmallestKLongsAgg]] (TypedImperativeAggregate) to a
  * plain-Scala reference — per group, the values `sorted.take(K)`: same
  * values, same order, same cap — across hub groups (≫ k values),
  * duplicates, and singleton groups, through a real partial/final plan
  * (repartition forces merge + buffer serialization).
  */
class SmallestKAggSpec extends SparkTestBase {
  import spark.implicits._

  private val K = 64

  test("native smallest-k equals the in-memory sorted.take(k) reference " +
    "(hubs, duplicates, singletons) and runs hash-aggregated") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 20000).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(300).toLong) // dups guaranteed
    } ++ (1 to 5).map(i => (1000L + i, i.toLong)) // singleton groups
    val df = rows.toDF("c", "n").repartition(8)

    val native = df.groupBy("c")
      .agg(SmallestKLongsAgg.smallestK(col("n"), K).as("ns"))
    // the reference: the same rows grouped in memory
    val ref = rows.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.take(K)).toMap
    val got = native.as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == ref.keySet)
    got.keys.foreach { c =>
      assert(got(c) == ref(c), s"group $c: ${got(c)} vs ${ref(c)}")
      assert(got(c).size <= K && got(c) == got(c).sorted)
    }
    // the point of the rewrite: the untyped hash-aggregate path, not the
    // typed groupByKey's DeserializeToObject/SerializeFromObject plan
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregateExec in:\n$plan")
    assert(!plan.contains("DeserializeToObject"))
  }

  test("k = 1 keeps exactly the group minimum") {
    val df = Seq((1L, 5L), (1L, 2L), (1L, 9L), (2L, 7L)).toDF("c", "n")
    val got = df.groupBy("c")
      .agg(SmallestKLongsAgg.smallestK(col("n"), 1).as("ns"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == Map(1L -> Seq(2L), 2L -> Seq(7L)))
  }

  test("serialize/deserialize round-trips the buffer bit-exactly") {
    val agg = SmallestKLongsAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 8)
    val buf = agg.createAggregationBuffer()
    Seq(5L, 1L, 9L, 1L, 7L, 3L, 100L, 2L, 4L, 6L).foreach(buf.insert)
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.values.toSeq == buf.values.toSeq)
    assert(buf.values.toSeq == Seq(1L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("merge respects the cap and the ascending order from both sides") {
    val agg = SmallestKLongsAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 4)
    val b1 = agg.createAggregationBuffer()
    val b2 = agg.createAggregationBuffer()
    Seq(10L, 30L, 50L, 70L).foreach(b1.insert)
    Seq(20L, 40L, 60L, 80L).foreach(b2.insert)
    assert(agg.merge(b1, b2).values.toSeq == Seq(10L, 20L, 30L, 40L))
  }
}
