package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only — the driver passes two): a
    // comma-separated id list restricting the dump + manifest to a subset;
    // an unknown id fails here, before an empty manifest could compare
    // as ALL MATCH over zero queries
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val unknown = only.toSeq.flatten.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.sorted.mkString(", ")}")
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach {
      case (name, fn) =>
      val dest = new java.io.File(s"$outDir/$name")
      // a stale result from a previous run must never stand in for a
      // now-failing query: clear the slot before attempting the write
      if (dest.exists()) rmrf(dest)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (dest.exists()) rmrf(dest)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full registry manifest: a query that threw above has no parquet dir,
    // and a dir-listing comparator would silently skip it — comparators
    // must treat "expected id with no dump" as FAILURE, not absence
    val expected = SparkEntry.queries.keys.toSeq.filter(selected).sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/expected_queries.json"), expected)
    spark.stop()
  }
}
