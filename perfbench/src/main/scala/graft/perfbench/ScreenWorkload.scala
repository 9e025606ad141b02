package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain._

/** `screen`: the catlas screen, compiled by `Pipeline.compile` from a JSON
  * config over seeded synthetic bulks ([[ScreenInputs]]), followed by a
  * memoized pass of the expensive model through `MemoCache.through`.
  *
  * One pass runs three operations:
  *  1. `screen` — compile the config over batch A and run the noop sink;
  *     the ledger and the result totals must match [[ScreenExpected]];
  *  2. `memo_fill` — a cold memo: every adslab of A misses and is written;
  *  3. `memo_resume` — A ∪ B over the same memo: A's rows are read back,
  *     only B's are computed and appended.
  * Both memo outputs must hold exactly the energies `Predict.inference`
  * gives when called directly. Each pass uses a fresh memo directory under
  * the run's private directory, which run.py removes with the run.
  */
final class ScreenWorkload(spark: SparkSession, tracer: Tracer, memoRoot: Path,
                           seed: Long, bulks: Int) extends Workload {
  import spark.implicits._
  import ScreenWorkload.MemoRow

  private val memoOperator = "expensive"
  private var cfg: ScreenConfig = _
  private var in: ScreenInputs.Inputs = _
  private var pieces: Map[String, Seq[Pourbaix.DiagramPiece]] = _
  private var bulksA: Dataset[Bulk] = _
  private var diagram: DataFrame = _
  private var expected: ScreenExpected.Result = _
  private var inputA, inputAB: DataFrame = _
  private var digestA, digestAB: Check.Digest = _
  private var expensive: SurrogateModel = _
  private var lastLedger = Map.empty[String, Long]
  private val memoStats = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]

  private def memoInput(rows: Seq[ScreenExpected.Adslab]): DataFrame =
    rows.map(a => MemoRow(a.key, a.surfaceKey, a.smiles, a.configs, None)).toDF()

  private def energies(df: DataFrame): DataFrame =
    df.select(col("key"), col(Predict.dECol(expensive.label)))

  def setup(): Unit = {
    in = ScreenInputs.generate(seed, bulks)
    cfg = Config.fromJson(ScreenInputs.configJson, Map.empty)
    expensive = cfg.steps.collect { case InferCfg(l) => SurrogateModel(l) }.last
    bulksA = spark.createDataset(in.batchA)
    diagram = in.diagram.toDF()
    pieces = in.diagram.map(d => d.bulk_id -> d.pieces).toMap
    expected = ScreenExpected.compute(cfg, in.batchA, pieces)
    val expectedB = ScreenExpected.compute(cfg, in.batchB, pieces)
    inputA = memoInput(expected.adslabs)
    inputAB = memoInput(expected.adslabs ++ expectedB.adslabs)
    // the reference energies: Predict.inference called directly
    def direct(input: DataFrame): Check.Digest = {
      val (df, obs) = Check.observed(energies(Predict.inference(input, expensive)), "perfbench_direct")
      df.write.format("noop").mode("overwrite").save()
      Check.digest(obs)
    }
    digestA = direct(inputA)
    digestAB = direct(inputAB)
  }

  private def op(p: Int, kind: String)(construct: => DataFrame)
                (check: DataFrame => (DataFrame, () => Boolean)): OpSample = {
    System.gc()
    var constructNs, executeNs = 0L
    var phases = Vector.empty[Int]
    var opSpan = -1
    val ok = tracer.span("operation", kind) {
      opSpan = tracer.currentId
      Workload.attempt(kind) {
        val t0 = System.nanoTime()
        val df = tracer.span("construct", kind) { phases :+= tracer.currentId; construct }
        constructNs = System.nanoTime() - t0
        val (checked, verdict) = check(df)
        val t1 = System.nanoTime()
        tracer.span("execute", kind) {
          phases :+= tracer.currentId
          checked.write.format("noop").mode("overwrite").save()
        }
        executeNs = System.nanoTime() - t1
        verdict()
      }
    }
    OpSample(p, kind, constructNs, executeNs, ok, opSpan, phases)
  }

  private def screen(p: Int): OpSample = {
    var result: Pipeline.Result = null
    val sample = op(p, "screen") {
      result = Pipeline.compile(spark, cfg, Some(bulksA), Some(diagram))
      result.results
    } { df =>
      val obs = Observation(s"perfbench_screen_$p")
      val last = Predict.dECol(expensive.label)
      val checked = df.observe(obs, count(lit(1)).as("rows"),
        sum(size(col("adslab_configs"))).as("configs"),
        sum(when(col(Predict.minCol(expensive.label)).isNotNull, size(col(last))).otherwise(0))
          .as("scored"),
        count(when(col("filter_reason").isNull, 1)).as("live"))
      (checked, () => {
        val m = obs.get
        def n(k: String): Long = Option(m(k)).map(_.toString.toLong).getOrElse(0L)
        val got = ScreenExpected.Totals(n("rows"), n("configs"), n("scored"), n("live"))
        expected.ledger.keys.foreach(result.ledger.await(_))
        lastLedger = expected.ledger.keys.map(k => k -> result.ledger.metrics.getOrElse(k, -1L)).toMap
        val good = got == expected.totals && lastLedger == expected.ledger
        if (!good) System.err.println(s"[perfbench] screen: totals $got ledger $lastLedger, " +
          s"expected ${expected.totals} ${expected.ledger}")
        good
      })
    }
    if (result != null) result.close()
    sample
  }

  private def memoPass(p: Int, kind: String, memo: MemoCache, input: DataFrame,
                       want: Check.Digest): OpSample =
    op(p, kind) {
      memo.through(input, "key")(misses =>
        Predict.inference(misses, expensive).drop("surface_key", "adsorbate_smiles",
          "adslab_configs", "filter_reason"))
    } { df =>
      val (checked, obs) = Check.observed(energies(df), s"perfbench_${kind}_$p")
      (checked, () => {
        val got = Check.digest(obs)
        if (got != want) System.err.println(s"[perfbench] $kind: energies $got, expected $want")
        got == want
      })
    }

  private def dirStats(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  def pass(p: Int): Seq[OpSample] = {
    val root = memoRoot.resolve(s"pass$p")
    val memo = new MemoCache(spark, root.toString, memoOperator, "v1")
    val tableDir = root.resolve(memoOperator)
    def memoRows: Long = memo.read().map(_.count()).getOrElse(0L)
    val s = screen(p)
    val fill = memoPass(p, "memo_fill", memo, inputA, digestA)
    val afterFill = if (tracer.enabled) memoRows else 0L
    val resume = memoPass(p, "memo_resume", memo, inputAB, digestAB)
    if (tracer.enabled) {
      val misses = memoRows - afterFill
      val (files, bytes) = dirStats(tableDir)
      memoStats += Map(
        "memo.hits" -> (digestAB.rows - misses).toDouble,
        "memo.misses" -> misses.toDouble,
        "memo.hit_ratio" -> Stats.ratio(digestAB.rows - misses, digestAB.rows),
        "memo.files" -> files.toDouble,
        "memo.appended_mb" -> bytes / 1e6)
    }
    Seq(s, fill, resume)
  }

  def workPerS(medianLatencyS: Map[String, Double]): Double =
    Stats.ratio(expected.totals.configs, medianLatencyS.getOrElse("screen", 0.0))

  def layerMetrics(samples: Seq[OpSample]): Map[String, Double] = {
    def median(kind: String, f: OpSample => Double): Double =
      Stats.median(samples.filter(_.name == kind).map(f))
    // the kernels timed again, after the warm-up and measured passes have
    // loaded and compiled them: the set-up recount ran them cold
    val k = ScreenExpected.compute(cfg, in.batchA ++ in.batchB, pieces)
    Map(
      "Pipeline.compile_s" -> median("screen", _.constructNs / 1e9),
      "Enumerate.us_per_bulk" -> Stats.ratio(k.enumerateNs, k.bulksEnumerated * 1000.0),
      "Geometry.score_us_per_slab" -> Stats.ratio(k.scoreNs, k.slabsScored * 1000.0),
      "Predict.us_per_adslab" -> Stats.ratio(k.predictNs, k.adslabsPredicted * 1000.0),
      "useful_ratio" -> Stats.ratio(expected.totals.scoredLast, expected.totals.configs),
      "memo.fill_s" -> median("memo_fill", _.latencyS),
      "memo.resume_s" -> median("memo_resume", _.latencyS),
      "memo.through_s" -> Stats.median(samples
        .groupBy(_.pass).values.map(_.filter(_.name.startsWith("memo_"))
          .map(_.constructNs / 1e9).sum).toSeq)) ++
      lastLedger.map { case (k, v) => s"ledger.$k" -> v.toDouble } ++
      Seq("memo.hits", "memo.misses", "memo.hit_ratio", "memo.files", "memo.appended_mb")
        .map(k => k -> Stats.median(memoStats.toSeq.flatMap(_.get(k))))
  }
}

object ScreenWorkload {
  /** A memo-pass input row: what `Predict.inference` reads, keyed. */
  case class MemoRow(key: String, surface_key: String, adsorbate_smiles: String,
                     adslab_configs: Seq[Enumerate.AdslabConfig],
                     filter_reason: Option[String])
}
