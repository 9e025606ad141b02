package graft.tools

import org.apache.spark.sql.functions._

/** sf1 corpus generator: replicate sf0.1 10× into a FULL corpus (all ten
  * tables) so graft.Bench
  * can run unmodified at 10× data — the scale-creep detector sf0.1 can't
  * be: a stage that is secretly O(n²) (hot posting list, unblocked pair
  * join, per-group quadratic window) grows ~100× here and stands out
  * against the ~10× linear queries.
  *
  * Honest-scaling transforms ([[ScaleTransforms]] — no 10-clique
  * artifacts):
  *  - documents: length-preserving caesar remap per copy — cross-copy
  *    shingles/fingerprints never collide, dedup sees a real 10× corpus;
  *  - embeddings: seeded signed dimension permutation per copy —
  *    orthogonal, so within-copy geometry is preserved and cross-copy
  *    cosines carry no systematic alignment;
  *  - events: disjoint event/user id spaces per copy — sessionization and
  *    per-user windows get 10× users, not 10× events per user;
  *  - TPC-H tables: per-copy key offsets applied CONSISTENTLY across
  *    fact and dim (l_orderkey↔o_orderkey, o_custkey↔c_custkey,
  *    l_partkey↔p_partkey, l_suppkey↔s_suppkey), so every join keeps
  *    exactly its sf0.1 selectivity at 10× rows. nation/region stay
  *    as-is (bounded real-world dims — scaling them would be dishonest).
  *
  * Usage: MakeSf1 [outDir [baseDir [textKeyOffset]]]  (default /tmp/sf1
  * from /root/testdata/sf0.1, offset 0), then:
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_BENCH_OUT=BENCH_sf1.json \
  *     sbt "runMain graft.Bench"
  *
  * Second decade (sf10 = 100× sf0.1): compose two levels —
  *   runMain graft.tools.MakeSf1 /tmp/sf1
  *   runMain graft.tools.MakeSf1 /tmp/sf10 /tmp/sf1 10
  * The nonzero offset keys the level-2 text AND embedding transforms
  * 10..19, so every (level-1, level-2) combination composes a distinct
  * letter permutation / signed dimension permutation and the 100 copies
  * stay mutually shingle-disjoint and geometrically decorrelated (see
  * [[ScaleTransforms]] on why caesar/circular rotations could not
  * compose; ScaleTransformsSpec brute-forces both pairwise-distinctness
  * claims). Key strides re-derive from the level-1 max, so TPC-H join
  * selectivities hold at 100× too.
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val base = if (args.length >= 2) args(1) else "/root/testdata/sf0.1"
    val out = args.headOption.getOrElse("/tmp/sf1")
    val textKeyOffset = if (args.length >= 3) args(2).toInt else 0
    val copies = 10
    val spark = graft.Sessions.builder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // getAs[Number] tolerates int-typed keys on corpus regenerations; an
    // empty table (max = NULL) fails with the table/key named instead of
    // a bare NullPointerException
    def stride(table: String, key: String): Long = {
      val m = spark.read.parquet(s"$base/$table.parquet")
        .agg(max(key)).first().getAs[Number](0)
      require(m != null, s"[sf1] $table.$key has no rows — cannot derive a stride")
      m.longValue() + 1
    }

    // one shared shift helper: copy c adds c·stride to the named key
    // columns, leaves the rest untouched, preserves column order
    def replicate(table: String, shifts: Map[String, Long],
                  extra: (Int, org.apache.spark.sql.DataFrame) =>
                    org.apache.spark.sql.DataFrame = (_, df) => df): Unit = {
      val src = spark.read.parquet(s"$base/$table.parquet")
      (0 until copies).map { c =>
        val shifted = src.columns.foldLeft(extra(c, src)) { (df, name) =>
          shifts.get(name).fold(df)(s =>
            df.withColumn(name, col(name) + lit(c * s)))
        }
        shifted
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[sf1] $table written")
    }

    val custS = stride("customer", "c_custkey")
    val suppS = stride("supplier", "s_suppkey")
    val partS = stride("part", "p_partkey")
    val ordS  = stride("orders", "o_orderkey")
    val evS   = stride("events", "event_id")
    val userS = stride("events", "user_id")
    val docS  = stride("documents", "doc_id")
    val vecS  = stride("embeddings", "vec_id")

    // dims stay bounded: copy through unchanged
    for (t <- Seq("region", "nation")) {
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[sf1] $t copied")
    }
    replicate("customer", Map("c_custkey" -> custS))
    replicate("supplier", Map("s_suppkey" -> suppS))
    replicate("part", Map("p_partkey" -> partS))
    replicate("orders", Map("o_orderkey" -> ordS, "o_custkey" -> custS))
    replicate("lineitem", Map("l_orderkey" -> ordS, "l_partkey" -> partS,
      "l_suppkey" -> suppS))
    replicate("events", Map("event_id" -> evS, "user_id" -> userS))

    replicate("documents", Map("doc_id" -> docS), (c, df) =>
      df.withColumn("text",
        ScaleTransforms.remapText(col("text"),
          if (c == 0) 0 else textKeyOffset + c)))
    replicate("embeddings", Map("vec_id" -> vecS), (c, df) =>
      df.withColumn("embedding",
        ScaleTransforms.permuteEmbedding(col("embedding"),
          if (c == 0) 0 else textKeyOffset + c,
          graft.queries.SimilarityQueries.DIM)))
    spark.stop()
  }
}
