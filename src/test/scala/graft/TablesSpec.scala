package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType}

/** Pins the table catalog ([[Tables]]): a warm load plans no job, and a
  * changed file set or another session is never served a stale schema or
  * content key.
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh temp dir, deleted afterwards. */
  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("after a first build, building the registry_light queries runs no job") {
    // perfbench's registry_light workload, one query per operator family
    val light = Seq("a3_array_min_argmin", "d7_dup_groups", "e19_decayed_engagement",
      "f10_one_sided_range", "g2_posexplode_tokens", "j1_cross_join_broadcast",
      "q6_forecast_revenue", "s1_global_topk", "sk1_bottomk_distinct",
      "t20_weighted_sample")
    light.foreach(q => SparkEntry.queries(q)(spark, sf))
    val jobs = light.map(q => q -> jobsDuring(spark)(SparkEntry.queries(q)(spark, sf)))
      .filter(_._2 > 0)
    assert(jobs.isEmpty, s"construction ran jobs: $jobs")
  }

  test("a warm load runs no job; a cold one infers once") {
    withTempDir("tables-warm") { dir =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      assert(jobsDuring(spark)(Tables.load(spark, dir, "t")) == 1)
      assert(jobsDuring(spark)(Tables.load(spark, dir, "t")) == 0)
    }
  }

  test("a table overwritten in place with other columns loads its new schema") {
    withTempDir("tables-overwrite") { dir =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
      Seq((2L, 7L)).toDF("id", "n").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val after = Tables.load(spark, dir, "t")
      assert(after.columns.toSeq == Seq("id", "n"))
      assert(after.as[(Long, Long)].collect().toSeq == Seq((2L, 7L)),
        "the new rows must read through, never as nulls")
    }
  }

  test("a warm content key runs no job") {
    withTempDir("tables-key-warm") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      val key = Tables.contentKey(spark, dir, "t", "k", "v")
      assert(jobsDuring(spark)(
        assert(Tables.contentKey(spark, dir, "t", "k", "v") == key)) == 0)
      assert(key == graft.ops.PersistedBase.corpusKey(
        Tables.load(spark, dir, "t"), col("k"), col("v")),
        "the memoized key is the store's content hash")
    }
  }

  test("a key-column rewrite changes the content key") {
    withTempDir("tables-key-rewrite") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      val key = Tables.contentKey(spark, dir, "t", "k", "v")
      Seq((1L, "a"), (2L, "c")).toDF("k", "v").write.mode("overwrite")
        .parquet(s"$dir/t.parquet")
      assert(Tables.contentKey(spark, dir, "t", "k", "v") != key)
    }
  }

  test("a byte-identical rewrite gives a new file set and the same content " +
    "key, and d7b then writes no new store entry") {
    withTempDir("tables-key-identical") { dir =>
      val src = Paths.get(s"$sf/documents.parquet")
      val dst = Paths.get(s"$dir/documents.parquet")
      Files.copy(src, dst)
      val storeRoot = Paths.get(sys.env.getOrElse("GRAFT_STORE_DIR",
        s"${sys.props("java.io.tmpdir")}/graft-store"))
      def dupLabelEntries: Set[String] =
        if (!Files.isDirectory(storeRoot)) Set.empty
        else {
          val ls = Files.list(storeRoot)
          try ls.iterator.asScala.map(_.getFileName.toString)
            .filter(_.startsWith("dup_labels-")).toSet
          finally ls.close()
        }
      def d7b(): Unit =
        assert(SparkEntry.queries("d7b_dup_groups_persisted")(spark, dir).count() > 0)
      val files = Tables.fileSet(spark, dir)
      val key = Tables.contentKey(spark, dir, "documents", "doc_id", "text")
      d7b()
      val entries = dupLabelEntries
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(Files.getLastModifiedTime(dst).toMillis + 10000L))
      assert(Tables.fileSet(spark, dir) != files, "a rewrite is a new file set")
      assert(Tables.contentKey(spark, dir, "documents", "doc_id", "text") == key,
        "the same bytes keep the content key")
      d7b()
      assert(dupLabelEntries == entries, "the serve must reuse the stored entry")
    }
  }

  test("a file added to a directory-style table is picked up") {
    withTempDir("tables-append") { dir =>
      Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir, "t").count() == 2)
      // the added file carries a column the first one lacks: a new file
      // set is inferred again, from whichever footer Spark reads
      Seq((3L, "x")).toDF("k", "extra").write.mode("append").parquet(s"$dir/t.parquet")
      assert(jobsDuring(spark)(Tables.load(spark, dir, "t")) == 1,
        "a changed file set must be inferred again")
      assert(Tables.load(spark, dir, "t").count() == 3)
    }
  }

  test("two loads of one table self-join with fresh attribute ids") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    assert(a.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(b.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    val n = a.as("a").join(b.as("b"), col("a.o_orderkey") === col("b.o_orderkey"))
      .select(col("a.o_orderkey"), col("b.o_custkey")).count()
    assert(n == a.count())
  }

  test("another session gets its own events.ts type") {
    // a TIMESTAMP(NANOS) ts, the physical type nanosAsLong exists for;
    // Spark writes no nanos timestamps, so the file is written with
    // parquet's own example writer
    withTempDir("tables-nanos") { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", 1704067200123456789L))
      finally w.close()
      val nanos = Tables.events(spark, dir)
      assert(nanos.schema("ts").dataType == LongType)
      assert(nanos.select("ts").as[Long].head() == 1704067200123456789L)
      val other = spark.newSession()
      other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val e = intercept[Exception](Tables.events(other, dir).schema)
      assert(e.getMessage.contains("TIMESTAMP(NANOS"),
        s"the other session must infer for itself: ${e.getMessage}")
      // and the first session, back again, still reads its BIGINT nanos
      assert(Tables.events(spark, dir).schema("ts").dataType == LongType)
    }
  }

  test("a reader-conf change within a session re-infers") {
    withTempDir("tables-conf") { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message t { required binary s; }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/t.parquet"))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("s", "x"))
      finally w.close()
      val s = spark.newSession()
      assert(Tables.load(s, dir, "t").schema("s").dataType != StringType)
      s.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(Tables.load(s, dir, "t").schema("s").dataType == StringType)
    }
  }
}
