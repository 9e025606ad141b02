package graft.perfbench

import graft.domain.{Bulk, Pourbaix, Site, Structure}

/** Seeded inputs of the `screen` workload: two batches of bulks (A, and
  * the extension B that a resumed screen adds), the Pourbaix diagram table
  * for both, and the screen config. The same seed gives the same inputs.
  *
  * Input properties, and why each is set the way it is (README.md repeats
  * them):
  *  - Prototypes fcc (4 sites), bcc (2), rocksalt (8) and L1₂ (4) in fixed
  *    counts: the four cubic cells the catlas screens start from. The
  *    seed varies elements, lattice constants, jitter and the order, but
  *    not how many bulks of each kind reach enumeration, so every seed
  *    costs about the same and the run-to-run spread stays small.
  *  - [[lowSymmetryFrac]] of the bulks get every site jittered: their
  *    symmetry drops to the identity, so Miller-index reduction keeps every
  *    candidate plane and their slabs are not invertible. One such bulk
  *    fans out to several times the slabs of a cubic one — the skew the
  *    pipeline's post-explode repartition is there to absorb.
  *  - [[supercellFrac]] of the bulks are 1×1×2 supercells: the size filter
  *    drops the rocksalt ones (16 sites), the rest pass with lower
  *    symmetry.
  *  - Filter outcomes are dealt per stratum ([[outcomes]]): 5% have no
  *    e_above_hull (a null comparison drops them), 20% lie above the
  *    0.1 eV cap, 15% are unstable in the Pourbaix diagram, 60% pass.
  *  - Pourbaix pieces: stable bulks are ≤ 0.3 eV at pH 0, V 0, unstable
  *    ones ≥ 0.65 eV on the whole grid; hull values avoid the cap by
  *    0.02 eV. No bulk is near a threshold, so the plain-Scala recount of
  *    the filters cannot disagree with Spark on rounding.
  *  - Batch B is [[extensionFrac]] of A, with fresh ids: a resumed memo
  *    pass reads A's entries and computes only B's.
  */
object ScreenInputs {
  val lowSymmetryFrac = 0.06
  val supercellFrac = 0.10
  val extensionFrac = 0.2

  case class Inputs(batchA: Seq[Bulk], batchB: Seq[Bulk],
                    diagram: Seq[Pourbaix.DiagramEntry])

  private val fccEls = Seq("Al", "Ni", "Cu", "Pd", "Ag", "Pt", "Au")
  private val bccEls = Seq("V", "Cr", "Fe")
  private val cations = Seq("Ti", "Mn", "Fe", "Co", "Ni", "Zn")
  private val anions = Seq("O", "N", "C")
  private val l12Hosts = Seq("Ni", "Cu", "Pd", "Pt", "Au")
  private val l12Solutes = Seq("Al", "Ti", "Fe", "Mn", "Zn", "Si")

  private def cubic(a: Double) = Seq(Seq(a, 0.0, 0.0), Seq(0.0, a, 0.0), Seq(0.0, 0.0, a))

  private def fcc(el: String, a: Double) = Structure(cubic(a), Seq(
    Site(el, Seq(0.0, 0.0, 0.0), "a"), Site(el, Seq(0.0, 0.5, 0.5), "a"),
    Site(el, Seq(0.5, 0.0, 0.5), "a"), Site(el, Seq(0.5, 0.5, 0.0), "a")))

  private def bcc(el: String, a: Double) = Structure(cubic(a), Seq(
    Site(el, Seq(0.0, 0.0, 0.0), "a"), Site(el, Seq(0.5, 0.5, 0.5), "a")))

  private def rocksalt(c: String, an: String, a: Double) = {
    val f = Seq(Seq(0.0, 0.0, 0.0), Seq(0.0, 0.5, 0.5), Seq(0.5, 0.0, 0.5), Seq(0.5, 0.5, 0.0))
    Structure(cubic(a), f.map(Site(c, _, "a")) ++
      f.map(p => Site(an, Seq((p(0) + 0.5) % 1.0, p(1), p(2)), "b")))
  }

  private def l12(host: String, solute: String, a: Double) = Structure(cubic(a), Seq(
    Site(solute, Seq(0.0, 0.0, 0.0), "a"), Site(host, Seq(0.0, 0.5, 0.5), "c"),
    Site(host, Seq(0.5, 0.0, 0.5), "c"), Site(host, Seq(0.5, 0.5, 0.0), "c")))

  /** 1×1×2 supercell: c doubled, sites repeated at z/2 and z/2 + ½. */
  private def doubledC(s: Structure) = Structure(
    Seq(s.lattice(0), s.lattice(1), s.lattice(2).map(_ * 2)),
    for (k <- Seq(0.0, 0.5); site <- s.sites)
      yield site.copy(frac_coords = Seq(site.frac_coords(0), site.frac_coords(1),
        site.frac_coords(2) / 2 + k)))

  private def jitter(s: Structure, rnd: scala.util.Random) = s.copy(sites = s.sites.map(site =>
    site.copy(frac_coords = site.frac_coords.map(x => {
      val y = x + (rnd.nextDouble() - 0.5) * 0.06
      y - math.floor(y)
    }))))

  /** Filter outcomes, dealt in this order to every stratum of bulks (a
    * stratum is one prototype in one variant): P passes every bulk filter,
    * F fails only Pourbaix, H has e_above_hull over the cap, M has none.
    * Any prefix is close to the 60/15/20/5 % mix, so even a stratum of two
    * or three bulks keeps it and every seed passes the same number of
    * bulks of each kind to enumeration.
    */
  private val outcomes = "PPFPHPPHPFPMPHPFPPHP"

  private def bulks(rnd: scala.util.Random, n: Int, firstId: Int,
                    tag: String): Seq[(Bulk, Pourbaix.DiagramEntry)] = {
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def between(lo: Double, hi: Double): Double = lo + rnd.nextDouble() * (hi - lo)
    def dealt(kinds: Seq[String], k: Int): Seq[String] =
      Iterator.continually(kinds).flatten.take(k).toSeq
    // fixed prototype counts (30/20/25/25 %)
    val counts = Seq("fcc" -> math.round(n * 0.30).toInt, "bcc" -> math.round(n * 0.20).toInt,
      "rocksalt" -> math.round(n * 0.25).toInt)
    val perKind = counts :+ ("l12" -> (n - counts.map(_._2).sum))
    // jitter only the small cells: a jittered rocksalt would dominate the run
    val low = dealt(Seq("fcc", "l12", "bcc"), math.max(1, math.round(n * lowSymmetryFrac).toInt))
    val sup = dealt(Seq("fcc", "bcc", "rocksalt", "l12"), math.round(n * supercellFrac).toInt)
    val specs = perKind.flatMap { case (kind, total) =>
      val nLow = low.count(_ == kind)
      val nSup = sup.count(_ == kind)
      Seq("low" -> nLow, "super" -> nSup, "plain" -> (total - nLow - nSup)).flatMap {
        case (variant, m) =>
          rnd.shuffle(Iterator.continually(outcomes).flatten.take(m).toSeq)
            .map(o => (kind, variant, o))
      }
    }
    rnd.shuffle(specs).zipWithIndex.map { case ((kind, variant, outcome), i) =>
      val base = kind match {
        case "fcc"      => fcc(pick(fccEls), between(3.5, 4.2))
        case "bcc"      => bcc(pick(bccEls), between(2.8, 3.1))
        case "rocksalt" => rocksalt(pick(cations), pick(anions), between(4.1, 4.7))
        case _          => l12(pick(l12Hosts), pick(l12Solutes), between(3.6, 4.0))
      }
      val struct = variant match {
        case "low"   => jitter(base, rnd)
        case "super" => doubledC(base)
        case _       => base
      }
      val els = struct.sites.map(_.element).distinct.sorted
      val hull = outcome match {
        case 'M' => None
        case 'H' => Some(between(0.12, 0.5))
        case _   => Some(between(0.0, 0.08))
      }
      val id = s"mp-${firstId + i}"
      (Bulk(id, s"perfbench_$tag", struct.sites.size, "RPBE", els.size, els, hull,
        Some(between(0.0, 3.0)), struct), diagramEntry(rnd, id, stable = outcome != 'F'))
    }
  }

  private def diagramEntry(rnd: scala.util.Random, id: String,
                           stable: Boolean): Pourbaix.DiagramEntry = {
    def between(lo: Double, hi: Double): Double = lo + rnd.nextDouble() * (hi - lo)
    val pieces = Seq.fill(2) {
      if (stable) Pourbaix.DiagramPiece(between(-0.1, 0.1), between(-0.2, 0.2), between(-1.0, 0.3))
      else Pourbaix.DiagramPiece(between(-0.01, 0.01), between(-0.01, 0.01), between(0.8, 1.5))
    }
    Pourbaix.DiagramEntry(id, pieces)
  }

  def generate(seed: Long, nA: Int): Inputs = {
    val rnd = new scala.util.Random(seed)
    val a = bulks(rnd, nA, 100000, "A")
    val b = bulks(rnd, math.round(nA * extensionFrac).toInt, 200000, "B")
    Inputs(a.map(_._1), b.map(_._1), (a ++ b).map(_._2))
  }

  /** The screen config handed to `Pipeline.compile` via `Config.fromJson`. */
  val configJson: String =
    """{
      |  "bulk_filters": {
      |    "filter_by_object_size": 8,
      |    "filter_by_bulk_e_above_hull": 0.1,
      |    "filter_by_pourbaix_stability": {
      |      "pH_lower": 0, "pH_upper": 14, "pH_step": 2,
      |      "V_lower": -1, "V_upper": 1, "V_step": 0.5,
      |      "max_decomposition_energy": 0.5}
      |  },
      |  "adsorbate_smiles": ["*H", "*CO", "*OH"],
      |  "max_miller_index": 2,
      |  "slab_filters": {
      |    "filter_best_shift_by_score": {"score": "broken_bonds", "threshold": 0.1},
      |    "filter_by_surface_property": {"score": "surface_density", "top_k": 6}
      |  },
      |  "steps": [
      |    {"type": "inference", "label": "cheap"},
      |    {"type": "filter_by_adsorption_energy_target",
      |     "adsorbate_smiles": "*CO", "target": -1.0, "range": 1.0},
      |    {"type": "inference", "label": "expensive"}
      |  ]
      |}""".stripMargin
}
