package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkTestBase

/** Property test for [[LabelProp.propagate]]: on random simple graphs the
  * distributed join/count/argmax rounds must agree with a plain-Scala
  * synchronous LPA — the tie-break (most-frequent, then SMALLEST label)
  * is the load-bearing determinism claim, and random dense small graphs
  * hit frequency ties constantly, which the corpus gate may not.
  */
class LabelPropSpec extends SparkTestBase {
  import spark.implicits._

  private val genEdges: Gen[Set[(Long, Long)]] =
    Gen.listOf(for {
      a <- Gen.chooseNum(1L, 10L)
      b <- Gen.chooseNum(1L, 10L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.toSet)

  private def bruteLpa(es: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    var lbl = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lbl).view.mapValues(_.size)
        // max count, then smallest label
        n -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    lbl
  }

  test("3-round sync LPA agrees with the brute-force reference, ties included") {
    val prop = Prop.forAll(genEdges) { es =>
      if (es.isEmpty) true
      else {
        val sym = es.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .toDF("a", "b")
        val got = LabelProp.propagate(sym, 3)
          .as[(Long, Long)].collect().toMap
        got == bruteLpa(es, 3)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("ids outside [0, 2^31) make the packed argmax raise, not decode " +
    "a label that is no node id") {
    // the pack n·2^31 + (2^31−1−lbl) keeps only the low 31 bits of a
    // label: 2^31+5 would decode as 5. A triangle of large ids plus an
    // edge to a negative id covers both sides of the range.
    val big = 2147483648L
    val es = Seq((big + 1, big + 2), (big + 2, big + 3), (big + 1, big + 3),
      (big + 3, -7L))
    val sym = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("a", "b")
    val err = intercept[Exception] {
      LabelProp.propagate(sym, 3).collect()
    }
    assert(err.getMessage.contains("must lie in [0, 2^31)"), err.getMessage)
  }
}
