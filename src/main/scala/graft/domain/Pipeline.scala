package graft.domain

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import scala.collection.concurrent.TrieMap
import graft.ops.{Filters, Grouped}

/** The plan compiler (reference driver: bin/predictions.py:37-85 compiling
  * YAML → staged Dask graph; here config → ONE composed DataFrame).
  *
  * Scale-design notes (SURVEY §3.1/§4):
  *  - Per-stage cardinalities use `observe()` metrics — collected as a
  *    side-effect of the single final action, replacing the reference's
  *    eager persist+count per filter (filters.py:137-145), which at 100 TB
  *    would be one full materialization per filter.
  *  - The adsorbate side of the central cross join is broadcast
  *    (≤82 rows — prediction_steps.py:271): broadcast-nested-loop, never a
  *    shuffled cartesian.
  *  - max_miller is an ARGUMENT of enumeration, not a post-filter
  *    (prediction_steps.py:227-237): the plan compiler owns this rewrite —
  *    Catalyst cannot push a predicate into an opaque flatMap.
  *  - Slab fan-out skew (one bulk → hundreds of slabs) is NOT spread by
  *    the post-explode repartition: the exchange carries well under a MB,
  *    so AQE coalesces it into a single task. CPU-heavy per-row work (slab
  *    enumeration and the slab scores) therefore runs in the typed flatMap,
  *    before that exchange; the repartition only co-locates the window
  *    groups (replaces Dask graph surgery D2/D3).
  *  - Grouped slab filters are explicit `Window.partitionBy` — the
  *    reference relied on one-bulk-per-partition co-location
  *    (prediction_steps.py:242), an implicit contract Spark makes explicit.
  */
object Pipeline {

  /** Cardinality ledger (A1/A10): observation points named per stage. */
  class Ledger extends QueryExecutionListener {
    val metrics = TrieMap.empty[String, Long]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        metrics.put(name, row.getLong(0))
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

    /** Listener delivery is async (shared listener bus) — poll until the
      * named observation lands before reading the ledger.
      */
    def await(key: String, timeoutMs: Long = 10000): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!metrics.contains(key) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      metrics.contains(key)
    }
  }

  def bulkFilterColumn(f: BulkFilter): org.apache.spark.sql.Column = f match {
    case ByIds(ids)              => Filters.byIds(col("bulk_id"), ids)
    case IgnoreIds(ids)          => Filters.ignoreIds(col("bulk_id"), ids)
    case AcceptableElements(els) => Filters.acceptableElements(col("bulk_elements"), els)
    case NumElements(ns)         => Filters.numElements(col("bulk_nelements"), ns)
    case RequiredElements(els)   => Filters.requiredElements(col("bulk_elements"), els)
    case MaxSize(n)              => Filters.maxSize(col("bulk_natoms"), n)
    case ActiveHost(a, h)        => Filters.activeHost(col("bulk_elements"), a, h)
    case MaxHull(v)              => col("bulk_e_above_hull") <= v
    case BandGapRange(lo, hi)    => Filters.range(col("bulk_band_gap"), lo, hi)
    case SampleFraction(_)       => lit(true) // applied via df.sample below
    case _: PourbaixStability    => lit(true) // applied via diagram join below
  }

  /** Stage 1: bulk filters in user order, one observe point per filter.
    * `diagram` feeds F9 (Pourbaix) and is REQUIRED when a Pourbaix filter
    * is configured — there is no fixture fallback here (filtering real
    * bulks by fixture physics would silently drop everything non-fixture);
    * `compile()` supplies the fixture diagram only when the bulks
    * themselves are the fixture default.
    */
  def filterBulks(ds: DataFrame, filters: Seq[BulkFilter],
                  diagram: Option[DataFrame] = None): DataFrame =
    filters.zipWithIndex.foldLeft(ds.observe("bulk_00_input", count(lit(1)))) {
      case (acc, (SampleFraction(f), i)) =>
        acc.sample(withReplacement = false, f, Filters.sampleSeed)
          .observe(f"bulk_${i + 1}%02d_sample", count(lit(1)))
      case (acc, (p: PourbaixStability, i)) =>
        // no silent fixture fallback: filtering real bulks by hard-coded
        // test-fixture physics would drop everything but fixture ids with
        // no warning — compile() supplies the fixture diagram only when
        // the bulks themselves are the fixture default
        val dg = diagram.getOrElse(throw new IllegalArgumentException(
          "filter_by_pourbaix_stability requires a diagram table " +
            "(bulk_id, pieces); none was supplied"))
        Pourbaix.filterStable(acc, dg, Config.pourbaixConditions(p))
          .observe(f"bulk_${i + 1}%02d_pourbaix", count(lit(1)))
      case (acc, (flt, i)) =>
        acc.filter(bulkFilterColumn(flt))
          .observe(f"bulk_${i + 1}%02d_${flt.getClass.getSimpleName}", count(lit(1)))
    }

  /** Stage 2: slab enumeration (typed flatMap G1) + grouped slab filters.
    * The scores the filters rank by are computed inside the flatMap, once
    * per slab, on the Scala objects it already holds, and carried as the
    * `slab_scores` array column that the filters index into.
    */
  def enumerateSurfaces(spark: SparkSession, bulks: Dataset[Bulk],
                        maxMiller: Int, slabFilters: Seq[SlabFilterCfg]): DataFrame = {
    import spark.implicits._
    // max_miller possibly tightened by config (argument pushdown, §4.1)
    val mm = slabFilters.collectFirst { case MaxMillerCfg(v) => v }
      .map(math.min(_, maxMiller)).getOrElse(maxMiller)
    val scoreNames = slabFilters.collect {
      case BestShift(score, _)       => score
      case TopKByScore(score, _, _) => score
    }.distinct
    val surfaces = bulks.flatMap { b =>
      val slabs = Enumerate.enumerateSlabs(b, mm)
      if (scoreNames.isEmpty) slabs.map(ScoredSurface(_, Nil))
      else {
        val scorer = new Geometry.SlabScorer(b.bulk_structure)
        slabs.map(s => ScoredSurface(s, scorer.scores(s.slab_structure, scoreNames)))
      }
    }.toDF()
      // hash on the natural group key so downstream windows reuse the
      // partitioning
      .repartition(col("bulk_id"), col("slab_millers"))
    def score(name: String) = col("slab_scores")(scoreNames.indexOf(name))
    // observe names indexed by position (like bulk filters): two filters of
    // the same kind must not collide into one duplicate observation name
    slabFilters.zipWithIndex
      .foldLeft(surfaces.observe("surf_00_enumerated", count(lit(1)))) {
        case (acc, (MaxMillerCfg(_), _)) => acc // consumed as an argument above
        case (acc, (BestShift(name, thr), i)) =>
          Grouped.withinThresholdOfMin(acc, Seq("bulk_id", "slab_millers"), score(name), thr)
            .observe(f"surf_${i + 1}%02d_best_shift", count(lit(1)))
        case (acc, (TopKByScore(name, k, p), i)) =>
          val tieBreak = Seq(col("slab_millers"), col("slab_shift"), col("slab_top"))
          val kept = (k, p) match {
            case (Some(kk), _) => Grouped.groupTopK(acc, Seq("bulk_id"), score(name), tieBreak, kk)
            case (_, Some(pp)) =>
              Grouped.groupTopProportion(acc, Seq("bulk_id"), score(name), tieBreak, pp)
            case _ => acc
          }
          kept.observe(f"surf_${i + 1}%02d_topk", count(lit(1)))
      }
      .drop("slab_scores")
  }

  /** Stage 3: surfaces × adsorbates (J1 broadcast cross join) + adslab
    * config enumeration as an array column (G3).
    */
  def enumerateAdslabs(spark: SparkSession, surfaces: DataFrame,
                       smiles: Seq[String]): DataFrame = {
    import spark.implicits._
    val ads = Fixtures.adsorbates.filter(a =>
      smiles.isEmpty || smiles.contains(a.adsorbate_smiles)).toDF()
    val configsUdf = udf((key: String, sm: String) => Enumerate.enumerateAdslabs(key, sm))
    val keyUdf = udf((b: String, m: Seq[Int], sh: Double, top: Boolean) =>
      Enumerate.surfaceKey(b, m, sh, top))
    surfaces
      .withColumn("surface_key", keyUdf(col("bulk_id"), col("slab_millers"),
        col("slab_shift"), col("slab_top")))
      .crossJoin(broadcast(ads))
      .withColumn("adslab_configs", configsUdf(col("surface_key"), col("adsorbate_smiles")))
      .observe("adslab_00_enumerated", count(lit(1)))
  }

  case class Result(results: DataFrame, ledger: Ledger,
                    private val spark: SparkSession) {
    /** Unregister the ledger listener (compile registers one per call —
      * long-lived sessions must close Results or old ledgers keep
      * absorbing every later query's observations).
      */
    def close(): Unit = spark.listenerManager.unregister(ledger)
  }

  /** Full screen: config → composed plan. One action (the caller's sink)
    * executes everything; `ledger.metrics` then holds every stage count.
    */
  def compile(spark: SparkSession, cfg: ScreenConfig,
              bulks: Option[Dataset[Bulk]] = None,
              diagram: Option[DataFrame] = None): Result = {
    import spark.implicits._
    val errs = Config.validate(cfg)
    require(errs.isEmpty, s"invalid config: ${errs.mkString("; ")}")
    val ledger = new Ledger

    val bulkDs = bulks.getOrElse(spark.createDataset(Fixtures.bulks))
    // the fixture diagram is valid only for the fixture bulks; a caller
    // screening its own bulks must bring its own diagram table
    val hasPourbaix = cfg.bulkFilters.exists(_.isInstanceOf[PourbaixStability])
    val dg = diagram.orElse {
      if (hasPourbaix && bulks.isEmpty) Some(Fixtures.pourbaixDiagrams.toDF())
      else None
    }
    require(!hasPourbaix || dg.isDefined,
      "filter_by_pourbaix_stability with custom bulks requires a diagram table")
    val filtered = filterBulks(bulkDs.toDF(), cfg.bulkFilters, dg)
    val surfaces = enumerateSurfaces(spark, filtered.as[Bulk], cfg.maxMiller, cfg.slabFilters)
    val adslabs = enumerateAdslabs(spark, surfaces, cfg.adsorbateSmiles)

    val steps: Seq[CascadeStep] = cfg.steps.map {
      case InferCfg(label) => InferenceStep(SurrogateModel(label))
      case t: TargetCfg =>
        val (lo, hi) = Config.targetBounds(t)
        TargetFilterStep(t.smiles, lo, hi)
    }
    val cascaded = Predict.cascade(adslabs, steps)

    // final projection (P14/P15): drop heavy struct columns unless verbose
    val out = if (cfg.outputVerbose) cascaded
      else cascaded.drop("bulk_structure", "slab_structure")
    // register only once plan construction has succeeded — an exception
    // above must not leak an unreachable listener
    spark.listenerManager.register(ledger)
    Result(out, ledger, spark)
  }
}
