package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkTestBase

/** Property tests (SURVEY §5 plan): the Column-based filter algebra must
  * agree with a plain-Scala reference predicate on random element arrays,
  * and the grouped operators must satisfy their structural invariants.
  */
class FilterPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
  private val genDoc = Gen.listOf(Gen.oneOf(vocab)).map(_.toSeq)
  private val genDocs = Gen.listOfN(40, genDoc)

  private def sparkKept(docs: Seq[Seq[String]], p: org.apache.spark.sql.Column): Set[Int] =
    docs.zipWithIndex.toDF("els", "i").filter(p)
      .select("i").as[Int].collect().toSet

  test("F3 acceptable-elements agrees with the set-theoretic reference") {
    val allowed = Seq("a", "b", "c", "d")
    val prop = Prop.forAll(genDocs) { docs =>
      val spark_ = sparkKept(docs, Filters.acceptableElements(col("els"), allowed))
      val ref = docs.zipWithIndex.collect {
        case (d, i) if d.forall(allowed.contains) => i
      }.toSet
      spark_ == ref
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop).passed)
  }

  test("F5 required-elements agrees with the reference") {
    val required = Seq("a", "e")
    val prop = Prop.forAll(genDocs) { docs =>
      val spark_ = sparkKept(docs, Filters.requiredElements(col("els"), required))
      val ref = docs.zipWithIndex.collect {
        case (d, i) if required.forall(d.contains) => i
      }.toSet
      spark_ == ref
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop).passed)
  }

  test("F7 active-host agrees with the reference") {
    val active = Seq("a", "b"); val host = Seq("c", "d", "e")
    val prop = Prop.forAll(genDocs) { docs =>
      val spark_ = sparkKept(docs, Filters.activeHost(col("els"), active, host))
      val union = (active ++ host).toSet
      val ref = docs.zipWithIndex.collect {
        case (d, i) if d.forall(union.contains) &&
          d.exists(active.contains) && d.exists(host.contains) => i
      }.toSet
      spark_ == ref
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop).passed)
  }

  test("A7 invariants: mark preserves count; keep == rows of passing groups") {
    val genRows = Gen.listOfN(60,
      Gen.zip(Gen.choose(0, 5), Gen.choose(0.0, 100.0)))
    val prop = Prop.forAll(genRows) { rows =>
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i) }
        .toDF("g", "v", "i").cache()
      val cond = col("v") > 80.0
      val marked = Grouped.groupedExistsMark(df, Seq("g"), cond, "nope")
      val kept = Grouped.groupedExistsKeep(df, Seq("g"), cond)
      val passingGroups = rows.collect { case (g, v) if v > 80.0 => g }.toSet
      val refKept = rows.zipWithIndex.collect {
        case ((g, _), i) if passingGroups.contains(g) => i
      }.toSet
      val ok = marked.count() == rows.size &&
        kept.select("i").as[Int].collect().toSet == refKept &&
        marked.filter(col("filter_reason").isNotNull)
          .select("g").as[Int].collect().toSet == (rows.map(_._1).toSet -- passingGroups)
      df.unpersist()
      ok
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop).passed)
  }

  test("A8/A9 bounds: top-k never exceeds k per group; A9 keeps the argmin") {
    // a handful of score values, so top-k boundaries fall inside ties
    val genRows = Gen.listOfN(50,
      Gen.zip(Gen.choose(0, 4), Gen.oneOf(0.5, 1.0, 2.5, 4.0, 9.5)))
    val prop = Prop.forAll(genRows) { rows =>
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i) }
        .toDF("g", "v", "i").cache()
      val topk = Grouped.groupTopK(df, Seq("g"), col("v"), Seq(col("i")), 2)
      val sizesOk = topk.groupBy("g").count().as[(Int, Long)].collect()
        .forall(_._2 <= 2)
      // a8_topk_agg's spelling: bounded collect_top_k over (score, tie)
      val collected = df.groupBy("g")
        .agg(ColumnBridge.collectSmallestK(
          struct(col("v").as("score"), col("i").as("tie")), 2).as("t"))
        .select(col("g"), explode(col("t")).as("e"))
        .select(col("g"), col("e.score"), col("e.tie"))
        .as[(Int, Double, Int)].collect().toSet
      val sameRows = collected ==
        topk.select("g", "v", "i").as[(Int, Double, Int)].collect().toSet
      val a9 = Grouped.withinThresholdOfMin(df, Seq("g"), col("v"), 0.1)
      // every group's minimum row always survives A9
      val minIds = rows.zipWithIndex.groupBy(_._1._1).values.map(_.minBy(r => (r._1._2, r._2))._2).toSet
      val keptIds = a9.select("i").as[Int].collect().toSet
      df.unpersist()
      sizesOk && sameRows && minIds.subsetOf(keptIds)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop).passed)
  }
}

/** Randomized equivalence: distributed operators vs brute-force in-memory
  * references — the strongest correctness net for join/graph semantics
  * (the oracle gate pins one dataset; these pin the CONTRACT).
  */
class OperatorPropertySpec extends SparkTestBase {
  import spark.implicits._
  import org.scalacheck.{Gen, Prop, Test => SCTest}

  test("asofJoin agrees with the O(n^2) reference on random inputs") {
    val genLeft = Gen.listOfN(25, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 50L)))
    val genRight = Gen.listOfN(25, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 50L)))
    val prop = Prop.forAll(genLeft, genRight) { (l, r) =>
      // unique (key, time) on both sides (asofJoin's documented precondition;
      // left ids must also be unique to compare row-for-row)
      val left = l.distinct.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
      val right = r.distinct
        .groupBy { case (k, t) => (k, t) }.map(_._2.head)
        .zipWithIndex.map { case ((k, t), i) => (1000L + i, k, t) }.toSeq
      val lDf = left.toDF("lid", "k", "lt")
      val rDf = right.toDF("rid", "k", "rt")
      val got = AsOfJoin.asofJoin(lDf, rDf, Seq("k"), col("lt"), col("rt"),
        Seq("matched_rid" -> col("rid")))
        .select("lid", "matched_rid").as[(Long, Option[Long])]
        .collect().toMap
      val ref = left.map { case (lid, k, lt) =>
        val cands = right.filter { case (_, rk, rt) => rk == k && rt <= lt }
        lid -> (if (cands.isEmpty) None
                else Some(cands.maxBy { case (rid, _, rt) => (rt, rid) }._1))
      }.toMap
      got == ref
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop).passed)
  }

  test("asofJoinForward agrees with the O(n^2) reference on random inputs") {
    val genLeft = Gen.listOfN(25, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 50L)))
    val genRight = Gen.listOfN(25, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 50L)))
    val prop = Prop.forAll(genLeft, genRight) { (l, r) =>
      val left = l.distinct.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
      val right = r.distinct
        .zipWithIndex.map { case ((k, t), i) => (1000L + i, k, t) }
      val lDf = left.toDF("lid", "k", "lt")
      val rDf = right.toDF("rid", "k", "rt")
      val got = AsOfJoin.asofJoinForward(lDf, rDf, Seq("k"), col("lt"), col("rt"),
        Seq("matched_rid" -> col("rid")))
        .select("lid", "matched_rid").as[(Long, Option[Long])]
        .collect().toMap
      val ref = left.map { case (lid, k, lt) =>
        val cands = right.filter { case (_, rk, rt) => rk == k && rt >= lt }
        lid -> (if (cands.isEmpty) None
                else Some(cands.minBy { case (rid, _, rt) => (rt, -rid) }._1))
      }.toMap
      got == ref
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop).passed)
  }

  test("connectedComponents agrees with in-memory union-find on random graphs") {
    val genEdges = Gen.listOfN(20, Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L)))
    val prop = Prop.forAll(genEdges) { es =>
      val edges = es.filter { case (a, b) => a != b }
      val nodes = (1L to 12L).toSeq
      val got = Dedup.connectedComponents(nodes.toDF("id"),
        edges.toDF("id1", "id2"), "id", "id1", "id2")
        .as[(Long, Long)].collect().toMap
      // reference union-find
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // path-compress to canonical minimums
      val ref = nodes.map(n => n -> find(n)).toMap
      got == ref
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop).passed)
  }

  test("connectedComponents converges on a long chain in O(log d) rounds") {
    // a 100-link chain needs 99 rounds under one-hop propagation; pointer
    // jumping must close it within 10 (reach doubles per round)
    val n = 100L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(nodes, edges, "id", "id1", "id2", maxIter = 10)
      .as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L))
  }
}
