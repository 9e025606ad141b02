package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** The graph queries that pack two node ids into one BIGINT (gt5's edge
  * markers, gr7's exact-side pairs) reject ids outside the packable range
  * instead of decoding a wrong pair. Synthetic corpora put one node id at
  * or above 2^31; every other id is small.
  */
class PackedIdsSpec extends SparkTestBase {
  import spark.implicits._

  private val Big = 1L << 31

  private def corpus(orders: Seq[(Long, Long)],
                     lines: Seq[(Long, Long, Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("packed-ids").toString
    orders.toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def raises(query: String, dir: String, bound: String): Unit = {
    val e = intercept[Exception] { SparkEntry.queries(query)(spark, dir).collect() }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains(s"node ids must lie in [0, $bound)")),
      s"$query: expected the packed-id guard, got $e")
  }

  test("gt5: an edge to a part id ≥ 2^31 that no capped neighbor list " +
    "holds raises instead of packing a colliding edge marker") {
    // order 1: parts 1..65, a clique, so part 1's 64 smallest neighbors
    // are 2..65; order 2 adds the edge (1, Big), which only Big's own
    // list [1] and the edge-marker side ever see
    val dir = corpus(Seq((1L, 1L), (2L, 1L)),
      (1L to 65L).map(p => (1L, p, 1L, "N")) ++ Seq((2L, 1L, 1L, "N"), (2L, Big, 1L, "N")))
    raises("gt5_link_prediction", dir, "2^30")
  }

  test("gr7: a two-hop target id ≥ 2^31 raises instead of packing a " +
    "pair the exact side cannot decode") {
    // customer 1 → supplier 5 → (returned line) customer 2^30 + 3,
    // whose node id is 2·(2^30 + 3) ≥ 2^31
    val dir = corpus(Seq((1L, 1L), (2L, (1L << 30) + 3)),
      Seq((1L, 1L, 5L, "N"), (2L, 2L, 5L, "R")))
    raises("gr7_hyperball", dir, "2^31")
  }
}
