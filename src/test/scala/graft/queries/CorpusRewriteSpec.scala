package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.{SparkEntry, SparkTestBase, Tables}

/** A corpus rewritten in place mid-session: the queries served from an
  * in-session shared base ([[graft.ops.SharedBase]]) must answer for the
  * new rows, exactly as a new session does, and the bases built over the
  * old rows must be released, not kept beside the new ones.
  */
class CorpusRewriteSpec extends SparkTestBase {

  private val src = "/root/testdata/sf0.01"

  // the triangle family (tri_base, tri_counts) and the dedup family
  // (dup_labels)
  private val family = Seq("gt1_triangle_count", "gt2_triangle_top_nodes",
    "d7_dup_groups", "d8_dedup_apply")

  private def rows(s: SparkSession, d: String, q: String): Seq[String] =
    SparkEntry.queries(q)(s, d).collect().map(_.toString).toSeq.sorted

  private def persistIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a table rewritten in place rebuilds the shared bases: answers match " +
    "a new session and the superseded bases are released") {
    val dir = Files.createTempDirectory("corpus-rewrite").toString
    try rewriteAndCompare(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def rewriteAndCompare(dir: String): Unit = {
    Tables.names.foreach(t =>
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$dir/$t.parquet")))

    val before = persistIds
    val first = family.map(q => q -> rows(spark, dir, q)).toMap
    val firstBases = persistIds -- before
    assert(firstBases.nonEmpty, "the family must hold its shared bases")

    // keep even keys only, written over the copy's own tables
    Seq("documents" -> "doc_id", "orders" -> "o_orderkey",
        "lineitem" -> "l_orderkey").foreach { case (t, k) =>
      spark.read.parquet(s"$src/$t.parquet").filter(col(k) % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val second = family.map(q => q -> rows(spark, dir, q)).toMap
    val secondBases = persistIds -- before
    assert((firstBases intersect secondBases).isEmpty,
      s"superseded bases still cached: ${firstBases intersect secondBases}")
    assert(secondBases.size <= firstBases.size,
      s"the session holds more than one copy: $firstBases -> $secondBases")

    val fresh = spark.newSession()
    family.foreach(q => assert(second(q) == rows(fresh, dir, q),
      s"$q after the rewrite differs from a new session's answer"))
    assert(family.forall(q => first(q) != second(q)),
      "the rewrite must change every answer, or the check shows nothing")
  }
}
