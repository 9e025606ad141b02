package graft.perfbench

import scala.collection.mutable

import graft.domain._

/** A plain-Scala recount of a screen: the same domain kernels the Spark
  * plan calls as UDFs (`Enumerate.enumerateSlabs`/`enumerateAdslabs`,
  * `Geometry` scores, `SurrogateModel.predict`), applied with plain Scala
  * collections, give the ledger counts and result totals that the
  * distributed screen must reproduce. The kernel calls are timed here,
  * which is where the per-kernel per-layer metrics come from.
  */
object ScreenExpected {

  /** One adslab row: its memo key and what `Predict.inference` reads. */
  case class Adslab(key: String, surfaceKey: String, smiles: String,
                    configs: Seq[Enumerate.AdslabConfig])

  case class Totals(rows: Long, configs: Long, scoredLast: Long, live: Long)

  case class Result(ledger: Map[String, Long], adslabs: Seq[Adslab], totals: Totals,
                    bulksEnumerated: Int, enumerateNs: Long,
                    slabsScored: Int, scoreNs: Long,
                    adslabsPredicted: Int, predictNs: Long)

  def bulkStage(f: BulkFilter, i: Int): String = f match {
    case _: PourbaixStability => f"bulk_${i + 1}%02d_pourbaix"
    case _: SampleFraction    => f"bulk_${i + 1}%02d_sample"
    case other                => f"bulk_${i + 1}%02d_${other.getClass.getSimpleName}"
  }

  private def cmpMillers(a: Seq[Int], b: Seq[Int]): Int =
    a.zip(b).map { case (x, y) => Integer.compare(x, y) }.find(_ != 0)
      .getOrElse(Integer.compare(a.size, b.size))

  def compute(cfg: ScreenConfig, bulks: Seq[Bulk],
              diagram: Map[String, Seq[Pourbaix.DiagramPiece]]): Result = {
    val ledger = mutable.LinkedHashMap.empty[String, Long]

    // stage 1: bulk filters in user order
    ledger("bulk_00_input") = bulks.size.toLong
    val kept = cfg.bulkFilters.zipWithIndex.foldLeft(bulks) { case (acc, (f, i)) =>
      val keep: Bulk => Boolean = f match {
        case MaxSize(n) => _.bulk_natoms <= n
        case MaxHull(v) => _.bulk_e_above_hull.exists(_ <= v)
        case p: PourbaixStability =>
          val conds = Config.pourbaixConditions(p)
          b => diagram.get(b.bulk_id).exists(pieces => conds.exists(c =>
            pieces.map(pc => pc.a * c.pH + pc.b * c.V + pc.c).max <= c.maxDecompositionEnergy))
        case other => throw new IllegalArgumentException(s"no recount of $other")
      }
      val out = acc.filter(keep)
      ledger(bulkStage(f, i)) = out.size.toLong
      out
    }

    // stage 2: slab enumeration and slab filters
    val mm = cfg.slabFilters.collectFirst { case MaxMillerCfg(v) => v }
      .map(math.min(_, cfg.maxMiller)).getOrElse(cfg.maxMiller)
    val t0 = System.nanoTime()
    var surfaces: Seq[Surface] = kept.flatMap(Enumerate.enumerateSlabs(_, mm))
    val enumerateNs = System.nanoTime() - t0
    ledger("surf_00_enumerated") = surfaces.size.toLong
    var scoreNs = 0L
    var slabsScored = 0
    def scored(score: String): Seq[(Surface, Double)] = {
      val t = System.nanoTime()
      val out = surfaces.map(s => s -> (score match {
        case "surface_density" => Geometry.surfaceDensityScore(s.slab_structure, s.bulk_structure)
        case "broken_bonds"    => Geometry.brokenBondScore(s.slab_structure, s.bulk_structure)
      }))
      scoreNs += System.nanoTime() - t
      slabsScored += out.size
      out
    }
    cfg.slabFilters.zipWithIndex.foreach {
      case (MaxMillerCfg(_), _) =>
      case (BestShift(score, thr), i) =>
        val xs = scored(score)
        val mins = xs.groupBy { case (s, _) => (s.bulk_id, s.slab_millers) }
          .map { case (k, g) => k -> g.map(_._2).min }
        surfaces = xs.filter { case (s, v) =>
          val m = mins((s.bulk_id, s.slab_millers))
          v <= m + thr * math.abs(m)
        }.map(_._1)
        ledger(f"surf_${i + 1}%02d_best_shift") = surfaces.size.toLong
      case (TopKByScore(score, Some(k), None), i) =>
        // the plan's row_number order: score, then millers, shift, top
        val before: ((Surface, Double), (Surface, Double)) => Boolean = {
          case ((a, va), (b, vb)) =>
            val c = java.lang.Double.compare(va, vb) match {
              case 0 => cmpMillers(a.slab_millers, b.slab_millers) match {
                case 0 => java.lang.Double.compare(a.slab_shift, b.slab_shift) match {
                  case 0 => java.lang.Boolean.compare(a.slab_top, b.slab_top)
                  case d => d
                }
                case d => d
              }
              case d => d
            }
            c < 0
        }
        surfaces = scored(score).groupBy(_._1.bulk_id).values
          .flatMap(_.sortWith(before).take(k).map(_._1)).toSeq
        ledger(f"surf_${i + 1}%02d_topk") = surfaces.size.toLong
      case (other, _) => throw new IllegalArgumentException(s"no recount of $other")
    }

    // stage 3: surfaces × adsorbates
    val smiles = Fixtures.adsorbates.map(_.adsorbate_smiles)
      .filter(sm => cfg.adsorbateSmiles.isEmpty || cfg.adsorbateSmiles.contains(sm))
    val adslabs = for (s <- surfaces; sm <- smiles) yield {
      val sk = Enumerate.surfaceKey(s.bulk_id, s.slab_millers, s.slab_shift, s.slab_top)
      Adslab(s"$sk|$sm", sk, sm, Enumerate.enumerateAdslabs(sk, sm))
    }
    ledger("adslab_00_enumerated") = adslabs.size.toLong

    // the cascade: inference on live rows, grouped target filters
    val live = Array.fill(adslabs.size)(true)
    val lastMin = Array.fill(adslabs.size)(Double.NaN)
    var scoredLast = 0L
    var predictNs = 0L
    var predicted = 0
    cfg.steps.foreach {
      case InferCfg(label) =>
        val m = SurrogateModel(label)
        scoredLast = 0L
        val t = System.nanoTime()
        adslabs.indices.foreach { i =>
          if (live(i)) {
            val a = adslabs(i)
            lastMin(i) = m.predict(a.surfaceKey, a.smiles, a.configs.size).min
            scoredLast += a.configs.size
            predicted += 1
          } else lastMin(i) = Double.NaN
        }
        predictNs += System.nanoTime() - t
      case t: TargetCfg =>
        val (lo, hi) = Config.targetBounds(t)
        val passing = adslabs.indices.filter(i => live(i) && adslabs(i).smiles == t.smiles &&
          lastMin(i) >= lo && lastMin(i) <= hi).map(i => adslabs(i).surfaceKey).toSet
        adslabs.indices.foreach(i => if (!passing(adslabs(i).surfaceKey)) live(i) = false)
    }

    Result(ledger.toMap, adslabs,
      Totals(adslabs.size.toLong, adslabs.map(_.configs.size.toLong).sum, scoredLast,
        live.count(identity).toLong),
      kept.size, enumerateNs, slabsScored, scoreNs, predicted, predictNs)
  }
}
