package graft

import java.io.FileNotFoundException
import java.lang.ref.WeakReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The table catalog: loaders for the driver-generated corpus (TESTDATA.md)
  * and for any other parquet table read by path.
  *
  * The catalog holds metadata only, never rows. For each table path it
  * keeps the schema Spark inferred, keyed on the table's committed
  * file set: the sorted (path, length, modification time) of every leaf
  * file, read with a driver-side listing that skips what Spark's own file
  * index skips (`_SUCCESS`, `_temporary`, dot files). A load lists the
  * files, and while the key matches it reads with the catalogued schema
  * (`spark.read.schema(s).parquet(path)`), which plans no
  * schema-inference job. A rewritten, added or removed file changes the
  * key, so the schema is inferred again: a stale schema never reads a
  * changed table as nulls. Each load still builds a fresh relation with
  * its own file listing and fresh attribute ids, so two loads of one
  * table self-join as before.
  *
  * The same catalog answers "is this the same corpus?" for everything
  * derived from a table. [[fileSet]] exposes the listing as an opaque
  * key, which [[graft.ops.SharedBase]] keys its in-session bases on, and
  * [[contentKey]] memoizes [[graft.ops.PersistedBase.corpusKey]] on each
  * table's entry, so the store's content aggregate runs once per file
  * set, not once per call.
  *
  * Session scope: the inferred schema depends on the session's reader
  * conf (`nanosAsLong` turns `events.ts` into BIGINT), so entries belong
  * to one session. A load from another session drops them all, like
  * [[graft.ops.SharedBase]]; the catalog holds its session only weakly,
  * so a stopped session does not stay reachable through it. The
  * parquet/file reader conf is part of the key as well, so a conf change
  * within the session re-infers.
  *
  * Loaders stay unprojected: Catalyst prunes columns and pushes
  * predicates into the scan, so each query selects only what it needs
  * (ReadSchema / PushedFilters in `.explain`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    read(spark, s"$sfDir/$table.parquet")

  /** The parquet table at `path`, read with its catalogued schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Catalog.schema(spark, path)).parquet(path)

  /** The committed leaf-file set under `path` (one table, or a whole
    * corpus directory) as an opaque key: two calls return equal keys
    * exactly while no leaf file under `path` was added, removed or
    * rewritten. It is the listing the catalog keys each schema on.
    */
  def fileSet(s: SparkSession, path: String): AnyRef = Catalog.leaves(s, path)

  /** The content key of `cols` in `table`: [[graft.ops.PersistedBase.corpusKey]]
    * over those columns, computed once per catalog entry. The key rides
    * the table's entry, so it is dropped with it: a new session, a reader
    * conf change or a changed file set computes it again, and a warm call
    * runs no job.
    */
  def contentKey(s: SparkSession, sfDir: String, table: String, cols: String*): String =
    Catalog.contentKey(s, s"$sfDir/$table.parquet", cols)

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` normalized to a canonical nanos-since-epoch BIGINT.
    *
    * The corpus has shipped `ts` both as TIMESTAMP(NANOS) — which the
    * sessions read as BIGINT nanos via `nanosAsLong` — and as plain
    * micros TIMESTAMP/TIMESTAMP_NTZ. All downstream window math is
    * integer arithmetic on nanos, so whatever the physical type, convert
    * here (micros → nanos is exact ×1000; the cast to TIMESTAMP under the
    * UTC session zone makes NTZ and TZ agree — the zone is pinned by
    * [[Sessions.builder]], shared by every entry point). Narrow and
    * codegen'd; no behavior change when the file is already nanos-BIGINT.
    * The type is read off the catalogued schema.
    *
    * Known perf trade-off on MICROS corpora only: the withColumn rewrite
    * sits between the scan and any ts predicate, so ts filters stop
    * reaching the parquet scan as PushedFilters (row-group pruning on ts
    * is lost; other columns' pushdown is unaffected). The nanos-BIGINT
    * corpus — the shipping default — takes the LongType branch and keeps
    * full pushdown. If a micros corpus with selective ts filters shows up,
    * filter on the RAW column before converting in that query.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.unix_micros
    import org.apache.spark.sql.types.LongType
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  private object Catalog {
    final case class Leaf(path: String, length: Long, modified: Long)
    /** `keys` holds the content keys computed under this entry, by
      * column names.
      */
    private final case class Entry(files: Seq[Leaf], conf: Map[String, String],
                                   schema: StructType,
                                   keys: Map[Seq[String], String] = Map.empty)

    private var session = new WeakReference[SparkSession](null)
    private val entries = scala.collection.mutable.HashMap.empty[String, Entry]

    /** The schema of the table at `path`, inferred once per (session,
      * reader conf, committed file set). A missing or empty table is
      * never catalogued: its inference throws Spark's own error.
      */
    def schema(s: SparkSession, path: String): StructType = entry(s, path).schema

    /** The content key of `cols` at `path`, computed once per entry. */
    def contentKey(s: SparkSession, path: String, cols: Seq[String]): String = {
      val e = entry(s, path)
      e.keys.getOrElse(cols, {
        val key = graft.ops.PersistedBase.corpusKey(
          s.read.schema(e.schema).parquet(path), cols.map(col): _*)
        synchronized {
          if (session.get eq s) entries.get(path)
            .filter(c => c.files == e.files && c.conf == e.conf)
            .foreach(c => entries.update(path, c.copy(keys = c.keys.updated(cols, key))))
        }
        key
      })
    }

    private def entry(s: SparkSession, path: String): Entry = {
      val files = leaves(s, path)
      val conf = readerConf(s)
      val hit = synchronized {
        if (session.get ne s) {
          entries.clear()
          session = new WeakReference(s)
        }
        entries.get(path).filter(e => e.files == files && e.conf == conf)
      }
      hit.getOrElse {
        // inferred outside the lock: a concurrent load of another table
        // does not wait on this job
        val e = Entry(files, conf, s.read.parquet(path).schema)
        synchronized {
          if (session.get eq s) entries.update(path, e)
        }
        e
      }
    }

    /** The set conf that can change what parquet schema inference
      * returns.
      */
    private def readerConf(s: SparkSession): Map[String, String] =
      s.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
          k.startsWith("spark.sql.files.") || k.startsWith("spark.sql.sources.") ||
          k == "spark.sql.caseSensitive"
      }

    /** Every leaf file under `path` (or `path` itself), sorted; empty when
      * `path` does not exist.
      */
    def leaves(s: SparkSession, path: String): Seq[Leaf] = {
      val root = new Path(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      def walk(p: Path): Seq[Leaf] = fs.listStatus(p).toSeq
        .filterNot(f => hidden(f.getPath.getName))
        .flatMap { f =>
          if (f.isDirectory) walk(f.getPath)
          else Seq(Leaf(f.getPath.toString, f.getLen, f.getModificationTime))
        }
      try walk(root).sortBy(_.path)
      catch { case _: FileNotFoundException => Nil }
    }

    /** The names Spark's file index leaves out of a table; the parquet
      * summary files it keeps stay in the key.
      */
    private def hidden(name: String): Boolean =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !name.startsWith("_metadata") && !name.startsWith("_common_metadata")
  }
}
