package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.StableHash
import graft.ops.Grouped

/** M1–M5 batched inference cascade (reference:
  * catlas/adslab_predictions.py:217-387, prediction_steps.py:308-372).
  *
  * Seam design (SURVEY §7.4 #6): [[EnergyModel]] isolates the backend.
  * The deterministic surrogate makes cascades exactly reproducible (and
  * DuckDB-oracle-checkable); a real backend slots in behind the same trait
  * as a `mapInPandas`-style partition operator with an executor-singleton
  * registry ([[ModelRegistry]], the reference's per-worker model cache,
  * adslab_predictions.py:52-114).
  */
trait EnergyModel extends Serializable {
  def label: String
  /** Energy per placement config for one adslab row. */
  def predict(surfaceKey: String, smiles: String, nConfigs: Int): Seq[Double]
}

/** Deterministic surrogate (FIXTURES.md §7): stable hash → uniform in
  * [−4, 2) eV, the parity-plot range (parity_utils.py:216-240).
  */
case class SurrogateModel(label: String, seed: String = "s0") extends EnergyModel {
  def predict(surfaceKey: String, smiles: String, nConfigs: Int): Seq[Double] =
    (0 until nConfigs).map { i =>
      val h = s"$seed|$label|$surfaceKey|$smiles|$i"
        .foldLeft(0L)((a, c) => (a * 31 + c.toInt) % StableHash.P)
      (h % 6000L) / 1000.0 - 4.0
    }
}

/** M2: executor-singleton registry — models load once per JVM/executor,
  * keyed by checkpoint id (lazy val inside an object = the Spark-native
  * form of the reference's per-worker registry).
  */
object ModelRegistry {
  private val models = new java.util.concurrent.ConcurrentHashMap[String, EnergyModel]()
  def getOrLoad(label: String, load: () => EnergyModel): EnergyModel =
    models.computeIfAbsent(label, _ => load())

  // batched backends live in the same per-JVM cache, separate key space
  private val backends = new java.util.concurrent.ConcurrentHashMap[String, BatchedBackend]()
  def getOrLoadBackend(label: String, load: () => BatchedBackend): BatchedBackend =
    backends.computeIfAbsent(label, _ => load())
}

/** M1/M3 batched backend seam — the ONNX/torch call shape: ONE call
  * scores a whole batch (the reference's BatchOCPPredictor feeds a
  * dataloader of graphs per batch, adslab_predictions.py:52-147). A real
  * backend binds `predictBatch` to a native session run; this container
  * has no ML runtime, so the shipped implementation is the deterministic
  * surrogate — the batching, M3 batch sizing, short-circuiting and the
  * partition operator around it are real and tested.
  */
trait BatchedBackend extends Serializable {
  def label: String
  /** Device memory one sample occupies at inference (drives M3). */
  def bytesPerSample: Long
  /** (surfaceKey, smiles, nConfigs) per row → energies per row. */
  def predictBatch(batch: Seq[(String, String, Int)]): Seq[Seq[Double]]
}

/** Surrogate batched backend: same energies as [[SurrogateModel]] (so the
  * batched path is bit-exact against the column path), batch boundaries
  * recorded for test introspection.
  */
case class SurrogateBatchedBackend(label: String, seed: String = "s0",
                                   bytesPerSample: Long = 64L << 20)
    extends BatchedBackend {
  private val inner = SurrogateModel(label, seed)
  def predictBatch(batch: Seq[(String, String, Int)]): Seq[Seq[Double]] = {
    SurrogateBatchedBackend.observedBatches.add(batch.size)
    batch.map { case (k, sm, n) => inner.predict(k, sm, n) }
  }
}
object SurrogateBatchedBackend {
  /** Per-JVM record of batch sizes seen (local[*] test introspection). */
  val observedBatches = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

/** One step of the prediction cascade (config schema
  * config_validation.py:261-318): either a batched inference or a grouped
  * adsorption-energy filter.
  */
sealed trait CascadeStep
case class InferenceStep(model: EnergyModel) extends CascadeStep
/** Batched M1 step through [[Predict.inferenceBatched]] (M3 sizing). */
case class BatchedInferenceStep(backend: BatchedBackend,
                                deviceMemBytes: Long) extends CascadeStep
/** A7 target filter: groups (hashCols) where no row with `smiles` has the
  * most recent `min_<label>` within [lo, hi] are soft-deleted.
  */
case class TargetFilterStep(smiles: String, lo: Double, hi: Double) extends CascadeStep

object Predict {

  /** Column name conventions (adslab_predictions.py:275-354). */
  def dECol(label: String) = s"dE_$label"
  def minCol(label: String) = s"min_dE_$label"
  def argminCol(label: String) = s"argmin_dE_$label"

  /** M1 for one model over the whole table: appends dE array + min/argmin,
    * SHORT-CIRCUITING soft-deleted rows (filter_reason non-null ⇒ null
    * energies, adslab_predictions.py:275-282) — the soft-delete contract of
    * SURVEY §7.4 #3: rows never disappear, they stop costing inference.
    */
  def inference(df: DataFrame, model: EnergyModel): DataFrame = {
    val m = model
    val predictUdf = udf((key: String, smiles: String, n: Int) => m.predict(key, smiles, n))
    val live = col("filter_reason").isNull
    val dE = dECol(model.label)
    df.withColumn(dE,
        when(live, predictUdf(col("surface_key"), col("adsorbate_smiles"),
          size(col("adslab_configs")))))
      .withColumn(minCol(model.label), when(live, array_min(col(dE))))
      .withColumn(argminCol(model.label),
        when(live, array_position(col(dE), array_min(col(dE)))))
  }

  /** M3 dynamic batch sizing (adslab_predictions.py:287-292:
    * `int(total_memory / gpu_mem_per_sample / 1024**3)`): how many samples
    * fit in device memory, floored at 1, capped against runaway configs.
    */
  def batchSize(deviceMemBytes: Long, bytesPerSample: Long, cap: Int = 4096): Int =
    math.max(1L, math.min(cap.toLong,
      deviceMemBytes / math.max(1L, bytesPerSample))).toInt

  /** M1 via the BATCHED partition operator: rows stream through
    * `mapPartitions`, grouped into M3-sized chunks, each chunk scored by
    * ONE `predictBatch` call on the executor-singleton backend. This is
    * the one genuinely-imperative per-partition case (amortizing a native
    * runtime call over a batch — the `mapInPandas` shape); soft-deleted
    * rows short-circuit around the batch entirely, like [[inference]].
    * Bit-exact with [[inference]] for the surrogate backend (PredictSpec
    * pins it).
    */
  def inferenceBatched(df: DataFrame, backend: BatchedBackend,
                       deviceMemBytes: Long): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val dE = dECol(backend.label)
    val outSchema = df.schema
      .add(dE, ArrayType(DoubleType))
      .add(minCol(backend.label), DoubleType)
      .add(argminCol(backend.label), LongType)
    val iKey = df.schema.fieldIndex("surface_key")
    val iSm = df.schema.fieldIndex("adsorbate_smiles")
    val iCfg = df.schema.fieldIndex("adslab_configs")
    val iReason = df.schema.fieldIndex("filter_reason")
    val bs = batchSize(deviceMemBytes, backend.bytesPerSample)
    val b = backend
    df.mapPartitions { it =>
      val model = ModelRegistry.getOrLoadBackend(b.label, () => b)
      it.grouped(bs).flatMap { chunk =>
        val (live, dead) = chunk.partition(_.isNullAt(iReason))
        val scored = if (live.isEmpty) Nil
          else model.predictBatch(live.map(r =>
            (r.getString(iKey), r.getString(iSm), r.getSeq[Any](iCfg).size)))
        val liveRows = live.zip(scored).map { case (r, es) =>
          val mn = es.min
          Row.fromSeq(r.toSeq ++ Seq(es, mn, (es.indexOf(mn) + 1).toLong))
        }
        val deadRows = dead.map(r =>
          Row.fromSeq(r.toSeq ++ Seq(null, null, null)))
        liveRows ++ deadRows
      }
    }(Encoders.row(outSchema))
  }

  /** G4 + M1 from STRUCTURES: the real-GNN path shape. Each row's slab
    * structure is decoded and featurized into a graph (REAL build —
    * [[Featurize.graph]] over the covalent-radius connectivity kernel),
    * then scored in M3-sized batches through ONE `predictGraphs` call per
    * chunk (the reference's make_dataloader batch,
    * adslab_predictions.py:117-147). Soft-deleted rows short-circuit both
    * the featurization and the batch.
    */
  def inferenceFromStructures(df: DataFrame, backend: GraphEnergyBackend,
                              deviceMemBytes: Long,
                              structCol: String = "slab_structure"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val outSchema = df.schema
      .add(dECol(backend.label), ArrayType(DoubleType))
      .add(minCol(backend.label), DoubleType)
      .add(argminCol(backend.label), LongType)
    val iStruct = df.schema.fieldIndex(structCol)
    val iSm = df.schema.fieldIndex("adsorbate_smiles")
    val iCfg = df.schema.fieldIndex("adslab_configs")
    val iReason = df.schema.fieldIndex("filter_reason")
    val bs = batchSize(deviceMemBytes, backend.bytesPerSample)
    val b = backend
    // getSeq hands back mutable ArraySeq wrappers — deep-convert so the
    // Structure fields are the immutable Seqs the geometry kernel expects
    def decode(r: Row): Structure = Structure(
      r.getSeq[scala.collection.Seq[Double]](0).map(_.toSeq).toSeq,
      r.getSeq[Row](1).map(s =>
        Site(s.getString(0), s.getSeq[Double](1).toSeq, s.getString(2))).toSeq)
    df.mapPartitions { it =>
      it.grouped(bs).flatMap { chunk =>
        val (live, dead) = chunk.partition(_.isNullAt(iReason))
        val scored = if (live.isEmpty) Nil
          else b.predictGraphs(live.map(r =>
            (Featurize.graph(decode(r.getStruct(iStruct))),
              r.getString(iSm), r.getSeq[Any](iCfg).size)))
        val liveRows = live.zip(scored).map { case (r, es) =>
          val mn = es.min
          Row.fromSeq(r.toSeq ++ Seq(es, mn, (es.indexOf(mn) + 1).toLong))
        }
        liveRows ++ dead.map(r => Row.fromSeq(r.toSeq ++ Seq(null, null, null)))
      }
    }(Encoders.row(outSchema))
  }

  /** A7 grouped target filter step (filters.py:300-348). */
  def targetFilter(df: DataFrame, step: TargetFilterStep, liveMinCol: String,
                   hashCols: Seq[String]): DataFrame = {
    val cond = col("adsorbate_smiles") === step.smiles &&
      col(liveMinCol).between(step.lo, step.hi)
    Grouped.groupedExistsMark(df, hashCols, cond,
      s"no ${step.smiles} in [${step.lo}, ${step.hi}] for $liveMinCol")
  }

  /** M5 cascade compiler (prediction_steps.py:308-372): fold the step list
    * into one composed DataFrame transform; `most_recent_step` tracking
    * picks the live score column for each filter.
    */
  def cascade(df: DataFrame, steps: Seq[CascadeStep],
              hashCols: Seq[String] = Seq("bulk_id", "slab_millers", "slab_shift", "slab_top"))
      : DataFrame = {
    val init = if (df.columns.contains("filter_reason")) df
      else df.withColumn("filter_reason", lit(null).cast("string"))
    steps.foldLeft((init, Option.empty[String])) {
      case ((acc, _), InferenceStep(m)) =>
        (inference(acc, m), Some(minCol(m.label)))
      case ((acc, _), BatchedInferenceStep(b, mem)) =>
        (inferenceBatched(acc, b, mem), Some(minCol(b.label)))
      case ((acc, Some(live)), f: TargetFilterStep) =>
        (targetFilter(acc, f, live, hashCols), Some(live))
      case ((_, None), _: TargetFilterStep) =>
        throw new IllegalArgumentException(
          "cascade: filter step before any inference step")
    }._1
  }
}
