package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkTestBase}

/** Block-manager hygiene for ITERATIVE / checkpointing operators.
  *
  * Every operator that `localCheckpoint`s (connected components, the
  * triangle family, k-means SemDeDup) runs inside long-lived sessions —
  * Bench executes 180+ queries × 3 iterations in one JVM — so a checkpoint
  * that outlives its consuming action is a session-lifetime leak: round 5
  * measured gt2's bench samples rising monotonically (8.0 → 10.0 → 15.6 s)
  * from exactly this, and the stranded blocks' GC pressure surfaced in
  * unrelated queries' timed windows. These tests convert that bench
  * symptom into a pinned invariant: REPEATED invocations must not grow
  * the persistent-RDD registry.
  *
  * `getPersistentRDDs` deltas (not absolutes) are asserted because the
  * suite session is shared; entries leave the map synchronously on
  * unpersist, so the post-action assertions are deterministic. The
  * weak-valued registry also drops entries once the last reference is
  * garbage-collected — the ContextCleaner backstop — which the final
  * eventually-style check exercises.
  */
class BlocksSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def nPersist: Int = spark.sparkContext.getPersistentRDDs.size
  // growth assertions compare ID SETS, not counts: the registry is
  // weak-valued and shared across suites, so the async ContextCleaner may
  // remove UNRELATED earlier suites' entries at any moment — a count
  // equality would flake on that shrinkage even with zero leaks here
  private def persistIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("triangle family: repeated gt1/gt2 invocations hold one fixed set " +
    "of cached base frames (memoized cache-and-release, no growth)") {
    def consume(name: String): Unit =
      assert(SparkEntry.queries(name)(spark, sf).count() >= 0)
    consume("gt2_triangle_top_nodes") // builds the memoized base
    val base = persistIds
    // any interleaving, any repetition: zero additional persistent RDDs
    consume("gt1_triangle_count")
    consume("gt2_triangle_top_nodes")
    consume("gt1_triangle_count")
    consume("gt2_triangle_top_nodes")
    val grown = persistIds -- base
    assert(grown.isEmpty,
      s"triangle reruns grew the persistent-RDD registry: +${grown.size} (ids $grown)")
  }

  test("connected components: per-round checkpoints are freed inside the " +
    "call; at most the final label table stays cached per invocation") {
    import spark.implicits._
    // a chain long enough to force several pointer-jumping rounds, plus a
    // second component and singletons
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (1L to 60L).toDF("id")
    val before = nPersist
    def runOnce(): Unit = {
      val labels = Dedup.connectedComponents(nodes, edges, "id", "src", "dst")
      assert(labels.filter(col("component") === 1L).count() == 40L)
    }
    runOnce()
    val afterOne = nPersist
    assert(afterOne - before <= 1,
      s"one CC run left ${afterOne - before} persistent RDDs (want <=1: " +
        "the final label table only — sym and superseded rounds freed)")
    runOnce(); runOnce()
    // pre-GC: one final label table may linger per run (weak-valued map —
    // reclaimed once dereferenced), but never the per-round intermediates
    assert(nPersist - before <= 3,
      s"3 CC runs left ${nPersist - before} persistent RDDs (want <=3)")
    // backstop: dereferenced label tables leave the registry under GC
    var tries = 0
    while (nPersist - before > 1 && tries < 20) {
      System.gc(); Thread.sleep(250); tries += 1
    }
    assert(nPersist - before <= 1,
      s"dereferenced CC label tables were not reclaimed: ${nPersist - before} remain")
  }

  test("dedup CC family: repeated d7/d8/d14 invocations share one memoized " +
    "label base (no persistent-RDD growth)") {
    def consume(name: String): Unit =
      assert(SparkEntry.queries(name)(spark, sf).count() > 0)
    consume("d7_dup_groups") // builds the memoized dup-labels base
    val base = persistIds
    consume("d8_dedup_apply")
    consume("d14_leakage_safe_split")
    consume("d7_dup_groups")
    consume("d8_dedup_apply")
    val grown = persistIds -- base
    assert(grown.isEmpty,
      s"dedup-family reruns grew the persistent-RDD registry: +${grown.size} (ids $grown)")
  }

  test("k-means training: superseded centroid rounds are freed inside the " +
    "call; at most the final centroid frame stays cached") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val before = nPersist
    val cent = Similarity.kmeansTrain(emb, "vec_id", "embedding",
      col("vec_id") % 50 === 0, iters = 3)
    assert(cent.count() > 0)
    assert(nPersist - before <= 1,
      s"k-means left ${nPersist - before} persistent RDDs (want <=1: the " +
        "final centroids only — all superseded rounds freed)")
  }

  test("label propagation: per-invocation persists are dereferenced with " +
    "the plan and reclaimed under GC (bounded-by-GC contract)") {
    def runOnce(): Unit =
      assert(SparkEntry.queries("gr2_label_prop")(spark, sf).count() > 0)
    runOnce() // absorb first-call session effects
    val base = persistIds
    runOnce(); runOnce()
    var tries = 0
    while ((persistIds -- base).nonEmpty && tries < 40) {
      System.gc(); Thread.sleep(250); tries += 1
    }
    val grown = persistIds -- base
    assert(grown.isEmpty,
      s"LPA reruns grew the persistent-RDD registry: +${grown.size} (ids $grown)")
  }

  test("pagerank: |E|-scale caches are freed inside the call; only the " +
    "small mass checkpoint lingers until GC") {
    def runOnce(): Unit =
      assert(SparkEntry.queries("gr1_pagerank")(spark, sf).count() > 0)
    runOnce() // absorb first-call session effects
    val base = persistIds
    runOnce(); runOnce()
    // the |E|-scale edge/deg/node caches live in the session-shared family
    // base, built once by the first call; each invocation returns lazily
    // over it, so whatever a rerun leaves (its O(|V|) mass checkpoint) must
    // leave the weak-valued registry under GC once the plan is dereferenced
    var tries = 0
    while ((persistIds -- base).nonEmpty && tries < 40) {
      System.gc(); Thread.sleep(250); tries += 1
    }
    val grown = persistIds -- base
    assert(grown.isEmpty,
      s"pagerank reruns grew the persistent-RDD registry: +${grown.size} (ids $grown)")
  }

  test("result-checkpoint queries: repeated gr3/gr4b/mb1 invocations " +
    "leave no persistent-RDD growth after GC") {
    // gr3, gr4b and mb1 checkpoint their small result and release the
    // frames that built it inside the call (Blocks.checkpointThenRelease);
    // the result checkpoint must leave the weak-valued registry under GC
    // once the plan is dereferenced. gr1 and gr2 have their own cases above.
    for (name <- Seq("gr3_components", "gr4b_bfs_hops_persisted",
        "mb1_assoc_rules")) {
      def runOnce(): Unit =
        assert(SparkEntry.queries(name)(spark, sf).count() > 0, name)
      runOnce() // absorb first-call session effects (shared bases)
      val base = persistIds
      runOnce(); runOnce()
      var tries = 0
      while ((persistIds -- base).nonEmpty && tries < 40) {
        System.gc(); Thread.sleep(250); tries += 1
      }
      val grown = persistIds -- base
      assert(grown.isEmpty,
        s"$name reruns grew the persistent-RDD registry: +${grown.size} (ids $grown)")
    }
  }

  test("iterate: a loop that fails in round 2 frees every block it made " +
    "(driver-side throw and failed checkpoint job alike)") {
    import spark.implicits._
    val init = (1L to 20L).toDF("x")
    def failInRound2(fail: DataFrame => DataFrame): Unit = {
      var round = 0
      val before = persistIds
      intercept[Exception] {
        Blocks.iterate(init, maxRounds = 5) { live =>
          round += 1
          val next = live.select((col("x") + 1).as("x"))
          if (round == 2) fail(next) else next
        }
      }
      assert(round == 2)
      assert(persistIds == before,
        s"a failed loop changed the persistent-RDD registry: " +
          s"+${persistIds -- before}, -${before -- persistIds}")
    }
    failInRound2(_ => throw new IllegalStateException("step fails"))
    failInRound2(_.select(raise_error(lit("round-2 job fails")).as("x")))
  }
}
