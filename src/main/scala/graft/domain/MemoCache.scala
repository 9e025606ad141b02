package graft.domain

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** J6 / §4.3 — the cross-run memo cache, Spark-native.
  *
  * Reference: content-addressed sqlite memoization of every expensive
  * per-row operator (catlas/cache_utils.py:137-218), sharded 16⁴ ways to
  * bound writer contention, keyed by (function-code version, canonical
  * args).
  *
  * Spark design: one Parquet memo table per (operator, codeVersion) with
  * schema (key, value...), stored as RUNS — one sub-directory per append,
  * `run-<n>` with n increasing. A stage run is:
  *
  *   misses = input ⟕anti memo   →   run-n = f(misses), written   →
  *   result = (memo ⋉ input) ∪ run-n
  *
  * The result is read back from the written files, so `compute` runs
  * once, in the append, however many actions the caller takes; nothing
  * re-reads or re-deduplicates the whole table. Both reads carry a
  * declared schema (`compute`'s analyzed output), so a call plans no
  * schema-inference job, and a committed file whose footer schema differs
  * from it fails the call before `compute` runs.
  *
  * Single-writer contract: one writer at a time per table. Under it no key
  * is ever appended twice — misses are anti-joined against every committed
  * run and deduplicated before the write — so the hits side needs no
  * dedup. A run is committed once it holds a data file; a crashed append
  * leaves a run holding only `_temporary` (read as absent, its keys
  * recompute) or part of its files (each one whole, so those keys are
  * memoized and the rest recompute). Either way no key is ever visible in
  * two runs.
  *
  * The two reference invariants survive: code-versioning invalidates stale
  * entries (version is in the path, cache_utils.py:102-131), and keys are
  * small content hashes, never heavy payloads (prediction_steps.py:322-331).
  * At scale the anti-join is a broadcast when the memo side's keys fit, or
  * a shuffled hash join keyed exactly like the subsequent append — and
  * crashed runs resume for free, which is the reference's fault-tolerance
  * story (SURVEY §4.2).
  */
class MemoCache(spark: SparkSession, root: String, operator: String, codeVersion: String) {
  import MemoCache._

  private val path = s"$root/$operator/v=$codeVersion"
  private val table = new Path(path)

  /** The run directories of the table as they stand: `live` are the
    * committed runs a read serves; `garbage` is what only compact()
    * removes — runs a compacted run supersedes, runs that never
    * committed, and staging left by a crashed compaction.
    */
  private final case class Run(dir: Path, seq: Long, files: Seq[FileStatus])
  private final case class Layout(live: Seq[Run], garbage: Seq[Path], nextSeq: Long)

  private def scan(fs: FileSystem): Layout = {
    val entries = children(fs, table)
    val runs = entries.filterNot(hidden).map { f =>
      f.getPath.getName match {
        case RunName(n, c) if f.isDirectory => (f.getPath, n.toLong, c != null)
        case other => throw new IllegalStateException(
          s"memo table $path holds $other, which is not a run directory")
      }
    }
    // a compacted run-m holds every row of the runs numbered ≤ m
    val cut = runs.collect { case (_, n, true) => n }.maxOption.getOrElse(-1L)
    val (current, superseded) = runs.partition { case (_, n, c) => n > cut || c && n == cut }
    val (live, crashed) = current
      .map { case (p, n, _) => Run(p, n, committed(fs, p).filter(_.isFile)) }
      .sortBy(_.seq)
      .partition(_.files.nonEmpty)
    val staging = entries.map(_.getPath).filter(_.getName.startsWith("_run-"))
    Layout(live, superseded.map(_._1) ++ crashed.map(_.dir) ++ staging,
      runs.map(_._2).maxOption.getOrElse(-1L) + 1)
  }

  /** Reads the runs with a declared schema: no inference job. */
  private def load(dirs: Seq[Path], schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dirs.map(_.toString): _*)

  /** Fails unless every run's footer schema is `schema`. One file per run
    * is read, on the driver: a run's files come from one write.
    */
  private def check(runs: Seq[Run], schema: StructType): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    runs.foreach { r =>
      val found = footerSchema(r.files.head, conf)
      if (loose(found) != loose(schema)) throw new IllegalStateException(
        s"memo run ${r.dir} has schema ${found.simpleString}, expected " +
          s"${schema.simpleString}: bump the codeVersion when compute's output changes")
    }
  }

  private def schemaOf(live: Seq[Run]): StructType = {
    val schema = footerSchema(live.head.files.head, spark.sessionState.newHadoopConf())
    if (!schema.fieldNames.contains("key"))
      throw new IllegalStateException(s"memo table $path has no key column")
    check(live.tail, schema)
    schema
  }

  private def fileSystem: FileSystem = table.getFileSystem(spark.sessionState.newHadoopConf())

  /** The memo table, or None while no run has committed. A table that
    * holds anything but runs, a file that cannot be read, or runs that
    * disagree on the schema is an error: treating it as empty would
    * recompute and append every key again.
    */
  def read(): Option[DataFrame] = {
    val live = scan(fileSystem).live
    if (live.isEmpty) None else Some(load(live.map(_.dir), schemaOf(live)))
  }

  /** Run `compute` only for keys not yet memoized, append them as one new
    * run, and return the memoized hits ∪ that run; when every key hits, no
    * run is kept and the hits alone return. Duplicate input keys
    * compute and return once (the table is content-addressed, like the
    * reference's primary-keyed sqlite).
    */
  def through(input: DataFrame, keyCol: String)
             (compute: DataFrame => DataFrame): DataFrame = {
    val fs = fileSystem
    val layout = scan(fs)
    val prior = layout.live
    val keyed = input.withColumnRenamed(keyCol, "key")
    val misses = (if (prior.isEmpty) keyed
      else keyed.join(load(prior.map(_.dir), StructType(Seq(keyed.schema("key")))),
        Seq("key"), "left_anti")).dropDuplicates("key")
    val computed = compute(misses)
    val schema = computed.schema
    if (!schema.fieldNames.contains("key"))
      throw new IllegalArgumentException("memo compute must keep the key column")
    check(prior, schema)
    val run = new Path(table, s"run-${layout.nextSeq}")
    computed.write.parquet(run.toString)
    val hits = if (prior.isEmpty) None
      else Some(load(prior.map(_.dir), schema).join(keyed.select("key"), Seq("key"), "left_semi"))
    // every key hit: drop the zero-row run, which every later read would
    // open; its footers say so on the driver, with no job
    val conf = spark.sessionState.newHadoopConf()
    if (committed(fs, run).filter(_.isFile).forall(footer(_, conf).getBlocks.asScala
        .forall(_.getRowCount == 0))) {
      fs.delete(run, true)
      hits.getOrElse(spark.createDataFrame(java.util.List.of[Row](), schema))
    } else {
      val fresh = load(Seq(run), schema)
      hits.fold(fresh)(_.union(fresh))
    }
  }

  /** Rewrite the committed runs into one run, `run-<m>-compacted` with m
    * the highest run number present, then delete what it supersedes.
    * Readers skip every run numbered ≤ m but that one, so the one rename
    * that publishes it is the switch: a crash before it leaves the old
    * runs serving, a crash after it only garbage the next compact()
    * deletes. Keeps `memo.files` bounded over many resumes — the reason
    * the reference shards 16⁴ ways. Single writer: never beside a
    * running through().
    */
  def compact(): Unit = {
    val fs = fileSystem
    val layout = scan(fs)
    if (layout.live.size > 1) {
      val name = s"run-${layout.nextSeq - 1}-compacted"
      val staging = new Path(table, "_" + name)
      fs.delete(staging, true)
      load(layout.live.map(_.dir), schemaOf(layout.live)).write.parquet(staging.toString)
      if (!fs.rename(staging, new Path(table, name)))
        throw new IllegalStateException(s"memo table $path: could not publish $name")
    }
    scan(fs).garbage.foreach(fs.delete(_, true))
  }

  def size(): Long = read().map(_.count()).getOrElse(0L)
}

object MemoCache {
  private val RunName = """run-(\d+)(-compacted)?""".r
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Hidden entries: what a write leaves around its data files
    * (`_temporary` while it runs or after it crashed, `_SUCCESS`,
    * checksums). Spark's own file listing skips them too.
    */
  private def hidden(f: FileStatus): Boolean = {
    val name = f.getPath.getName
    name.startsWith("_") || name.startsWith(".")
  }

  private def children(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil

  /** The committed entries of `dir`: every child that is not hidden. Empty
    * when `dir` does not exist or holds only what a crashed first write
    * leaves behind.
    */
  private def committed(fs: FileSystem, dir: Path): Seq[FileStatus] =
    children(fs, dir).filterNot(hidden)

  /** A plain parquet table, or None while it has no committed file. Any
    * other state throws — a corrupt file on read, a missing column on the
    * caller's select — instead of reading as empty.
    */
  def readTable(spark: SparkSession, path: String): Option[DataFrame] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (committed(fs, dir).isEmpty) None else Some(spark.read.parquet(path))
  }

  private def footer(f: FileStatus, conf: org.apache.hadoop.conf.Configuration): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try reader.getFooter finally reader.close()
  }

  private def footerSchema(f: FileStatus, conf: org.apache.hadoop.conf.Configuration): StructType = {
    val json = footer(f, conf).getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
    if (json == null) throw new IllegalStateException(s"${f.getPath} carries no Spark schema")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** The schema with nullability and field metadata dropped: a parquet
    * write stores every field nullable.
    */
  private def loose(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, loose(f.dataType))))
    case a: ArrayType => ArrayType(loose(a.elementType))
    case m: MapType => MapType(loose(m.keyType), loose(m.valueType))
    case other => other
  }
}
