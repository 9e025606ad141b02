package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry}

/** The benchmark's JVM entry point; `run.py` builds it and starts it.
  *
  *   Main --workload <registry_light|screen> --seed <n> --seconds <s>
  *        --trace <0|1>
  *
  * Environment: PERFBENCH_ROOT (the benchmark directory, default
  * `perfbench`) and PERFBENCH_RUN_DIR (this run's private directory: memo
  * root, trace file). Spark runs on local[k], k = min(4, cores).
  *
  * Protocol: session start, then the workload's set-up and
  * [[warmupPasses]] untimed passes (together `setup_s`), then whole
  * passes until `--seconds` have gone by (at least [[minPasses]]), then a
  * full GC for `retained_heap_mb`. The last stdout line is the JSON
  * result; any failed operation or output mismatch makes the exit code 1.
  */
object Main {

  val lightQueries: Seq[String] = Seq(
    "a3_array_min_argmin", "d7_dup_groups", "e19_decayed_engagement",
    "f10_one_sided_range", "g2_posexplode_tokens", "j1_cross_join_broadcast",
    "q6_forecast_revenue", "s1_global_topk", "sk1_bottomk_distinct",
    "t20_weighted_sample")

  /** Untimed passes before measuring: the first pass loads classes and
    * generates code, and the second still runs partly interpreted.
    */
  val warmupPasses = 2

  /** Measured passes per run, at the least; more while `--seconds` last.
    * Three, because passes still get faster after the warm-up: the median
    * of two would be the mean of the two slowest.
    */
  val minPasses = 3

  /** Bulks in screen batch A (batch B adds a fifth). */
  val screenBulks = 40

  /** Per-layer metrics every workload reports (0 where a layer is idle). */
  val sharedLayer: Seq[String] = Seq(
    "construct_s", "construct_jobs", "construct_share", "optimize_ms", "plan_ms",
    "exec_s", "jobs", "stages", "tasks", "task_cpu_s", "eff_par",
    "one_task_stage_share", "max_stage_share", "shuffle_write_mb", "spill_mb", "gc_s",
    "SharedBase.build_s", "storage_mb", "traced_pass_s")

  /** Per-layer metrics only the screen workload produces. */
  val screenLayer: Seq[String] = Seq(
    "Pipeline.compile_s", "Enumerate.us_per_bulk", "Geometry.score_us_per_slab",
    "Predict.us_per_adslab", "useful_ratio",
    "ledger.bulk_00_input", "ledger.bulk_01_MaxSize", "ledger.bulk_02_MaxHull",
    "ledger.bulk_03_pourbaix", "ledger.surf_00_enumerated", "ledger.surf_01_best_shift",
    "ledger.surf_02_topk", "ledger.adslab_00_enumerated",
    "memo.hits", "memo.misses", "memo.hit_ratio", "memo.appended_mb", "memo.files",
    "memo.through_s", "memo.fill_s", "memo.resume_s")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_s" -> "s",
    "work_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  private def unit(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_mb")) "MB" else if (name.contains("us_per")) "us"
    else if (name.endsWith("_ratio") || name.endsWith("_share") || name == "eff_par") "ratio"
    else "count"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(sys.env.getOrElse("PERFBENCH_ROOT", "perfbench"))
    val runDir = Paths.get(sys.env.getOrElse("PERFBENCH_RUN_DIR", ".bench_run/local"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    require(Set("registry_light", "screen")(workload), s"unknown workload '$workload'")

    // fetched once, outside every timed region
    val registry = SparkEntry.queries
    val expected = Json.readDigests(root.resolve("expected/registry_light.json"))
    // SharedBase times (and forces) its builds under this property, as in Bench
    System.setProperty("graft.bench.timeBuilds", "1")

    val t0 = System.nanoTime()
    val spark = Sessions.builder(s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace)
    val w: Workload = workload match {
      case "registry_light" => new RegistryWorkload(spark, tracer,
        root.resolve("data/sf0.1").toAbsolutePath.toString, lightQueries, registry,
        expected, seed)
      case "screen" => new ScreenWorkload(spark, tracer, runDir.resolve("memo").toAbsolutePath,
        seed, screenBulks)
    }
    var prepareS = 0.0
    val warm = tracer.span("workload", s"$workload setup") {
      w.setup()
      prepareS = (System.nanoTime() - t0) / 1e9
      (0 until warmupPasses).flatMap(w.pass)
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    val measured = scala.collection.mutable.ArrayBuffer.empty[OpSample]
    val storage = scala.collection.mutable.ArrayBuffer.empty[Double]
    tracer.span("workload", workload) {
      val start = System.nanoTime()
      var p = warmupPasses
      while (p < warmupPasses + minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
        measured ++= w.pass(p)
        storage += spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => (max - free) / 1e6 }.sum
        p += 1
      }
    }
    // heap still in use after a full GC: each heap pool's usage as of its
    // last collection. Three rounds, because Spark's ContextCleaner frees
    // what one GC finds unreachable only after that GC.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1e6

    val all = warm ++ measured
    val failed = all.count(!_.ok)
    val ok = measured.filter(_.ok).toSeq
    val passes = ok.groupBy(_.pass).size
    // each operation's median over the passes (Bench's protocol): a burst
    // of interference in one pass moves no metric
    val medians = ok.groupBy(_.name).map { case (n, xs) => n -> Stats.median(xs.map(_.latencyS)) }
    val passS = medians.values.sum
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> passS,
      // over every measured operation: 30-40 samples on registry_light
      "op_p50_s" -> Stats.median(ok.map(_.latencyS)),
      "work_per_s" -> w.workPerS(medians),
      "retained_heap_mb" -> heapMb)
    System.err.println(f"[perfbench] $workload seed=$seed: ${measured.size} ops in " +
      f"$passes passes, failed_frac=${Stats.ratio(failed, all.size)}%.4f " +
      e2e.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4f" }.mkString(" ") +
      f" (set-up: $prepareS%.1f s before the warm-up passes)")

    System.err.println("[perfbench] ops: " + all.map(o =>
      f"${o.pass}:${o.name}=${o.latencyS}%.3f").mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        tracer.drain()
        val shared = sharedLayerMetrics(tracer, ok, passS, storage.toSeq)
        val own = w.layerMetrics(ok)
        tracer.write(runDir.getParent.resolve("traces").resolve(s"$workload-seed$seed.json"))
        (sharedLayer ++ screenLayer).map(k => (k, shared.getOrElse(k, own.getOrElse(k, 0.0)), unit(k)))
      }
    tracer.close()
    spark.stop()

    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, "metrics": {$body}}""")
    if (failed > 0) sys.exit(1)
  }

  /** The construction / Catalyst / execution / storage layers, summed per
    * pass from the traced spans, then the median over passes.
    */
  private def sharedLayerMetrics(tracer: Tracer, ok: Seq[OpSample], passS: Double,
                                 storage: Seq[Double]): Map[String, Double] = {
    val perPass = ok.groupBy(_.pass).values.toSeq.map { ops =>
      val construct = ops.flatMap(_.phaseSpans.headOption)
      val execute = ops.flatMap(_.phaseSpans.drop(1).headOption)
      val all = tracer.layer(construct ++ execute)
      val exec = tracer.layer(execute)
      val wallS = ops.map(_.latencyS).sum
      val execS = ops.map(_.executeNs / 1e9).sum
      val maxStage = ops.map(o => tracer.layer(o.phaseSpans).maxStageMs / 1e3).sum
      Map(
        "construct_s" -> ops.map(_.constructNs / 1e9).sum,
        "construct_jobs" -> tracer.layer(construct).jobs.toDouble,
        "construct_share" -> Stats.ratio(ops.map(_.constructNs / 1e9).sum, wallS),
        "optimize_ms" -> ops.map(o => tracer.catalystMs(o.opSpan, "optimization").toDouble).sum,
        "plan_ms" -> ops.map(o => tracer.catalystMs(o.opSpan, "planning").toDouble).sum,
        "exec_s" -> execS,
        "jobs" -> all.jobs.toDouble,
        "stages" -> all.stages.toDouble,
        "tasks" -> all.tasks.toDouble,
        "task_cpu_s" -> all.cpuNs / 1e9,
        "eff_par" -> Stats.ratio(exec.runMs / 1e3, execS),
        "one_task_stage_share" -> Stats.ratio(all.oneTaskStageMs, all.stageMs),
        "max_stage_share" -> Stats.ratio(maxStage, wallS),
        "shuffle_write_mb" -> all.shuffleWriteBytes / 1e6,
        "spill_mb" -> all.spillBytes / 1e6,
        "gc_s" -> all.gcMs / 1e3)
    }
    perPass.flatMap(_.keys).distinct.map(k => k -> Stats.median(perPass.map(_(k)))).toMap ++ Map(
      "SharedBase.build_s" -> graft.ops.SharedBase.buildSeconds.values.sum,
      "storage_mb" -> Stats.median(storage),
      "traced_pass_s" -> passS)
  }
}

object Stats {
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def readDigests(path: Path): Map[String, Check.Digest] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    node.properties().asScala.map { e =>
      e.getKey -> Check.Digest(e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }
}
