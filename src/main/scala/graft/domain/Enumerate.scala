package graft.domain

import scala.collection.mutable

import graft.functions.StableHash

/** G1–G5 enumeration fan-out (reference:
  * catlas/enumerate_slabs_adslabs.py:31-122, enumeration_utils.py:21-68).
  *
  * Spark-first shape: `enumerateSlabs` is a pure function Bulk → Seq[Surface]
  * used as a typed flatMap (1 row → N rows, all parent columns copied — the
  * reference's dict-accretion), and `enumerateAdslabs` returns the config
  * list as an ARRAY column (the downstream aggregate is per-surface, so the
  * fan-out is never materialized through a shuffle — SURVEY G3 note).
  *
  * Geometry per SURVEY §7.4 #1: [[slabStructure]] builds the REAL
  * reoriented slab cell for each Miller plane (integer plane basis +
  * extended-gcd stacking + vacuum padding); plane *selection* is
  * spacegroup-reduced ([[millerIndices(bulk:Structure,maxMiller:Int)*]]
  * collapses symmetry-equivalent facets via the bulk's own symmetry
  * rotations), termination shifts come from the actual atomic planes
  * ([[shifts]]), and top + flipped-bottom augmentation uses slab-center
  * invertibility (U16/U17).
  */
object Enumerate {

  private def gcd(a: Int, b: Int): Int = if (b == 0) math.abs(a) else gcd(b, a % b)

  /** Coprime sign-normalized Miller set up to maxMiller: the UNREDUCED
    * candidate universe (first nonzero component positive — h and −h name
    * the same plane family; bottoms are covered by flip augmentation).
    */
  def millerIndices(maxMiller: Int): Seq[Seq[Int]] = {
    val r = -maxMiller to maxMiller
    val set = for {
      h <- r; k <- r; l <- r
      if !(h == 0 && k == 0 && l == 0)
      if gcd(gcd(math.abs(h), math.abs(k)), math.abs(l)) == 1
    } yield normalizeSign(Seq(h, k, l))
    set.distinct.sortBy(m => (m(0), m(1), m(2)))
  }

  private def normalizeSign(m: Seq[Int]): Seq[Int] = {
    val sgn = if (m.find(_ != 0).get < 0) -1 else 1
    m.map(_ * sgn)
  }

  /** Space-group rotation parts of a structure: integer 3×3 matrices W
    * (entries −1..1) acting on fractional rows (f′ = f·W + t) with
    * |det W| = 1 that (a) preserve the lattice metric W·G·Wᵀ = G
    * (G = A·Aᵀ) and (b) map the site set onto itself under SOME fractional
    * translation t — candidate translations come from mapping an anchor
    * site onto each same-element site, then the whole set is verified
    * (what SpacegroupAnalyzer does inside enumeration_utils.py:40-55).
    * Entry range −1..1 covers all cubic/tetragonal/orthorhombic/hexagonal
    * settings in standard cells; an op outside it is merely not found,
    * which over-enumerates (safe) rather than merging distinct facets.
    */
  def symmetryRotations(s: Structure, tol: Double = 1e-5): Seq[Array[Array[Int]]] = {
    val a = s.lattice.map(_.toArray).toArray
    val g = Array.tabulate(3, 3)((i, j) =>
      a(i)(0) * a(j)(0) + a(i)(1) * a(j)(1) + a(i)(2) * a(j)(2))
    def wrap(x: Double): Double = x - math.floor(x)
    @inline def dWrap(x: Double, y: Double): Double = {
      val d = math.abs(x - y); math.min(d, 1.0 - d)
    }
    // anchor = element with the fewest sites → fewest candidate translations
    val anchorEl = s.sites.groupBy(_.element).minBy(_._2.size)._1
    val anchor = s.sites.find(_.element == anchorEl).get
    val sites = s.sites.toIndexedSeq
    val fr = sites.map(_.frac_coords.toArray)
    val candidates = sites.indices.filter(sites(_).element == anchorEl)
    val af = anchor.frac_coords.toArray
    // metric preservation: (W·G·Wᵀ)ij == Gij
    def preservesMetric(w: Array[Array[Int]]): Boolean = {
      var i = 0
      while (i < 3) {
        var j = 0
        while (j < 3) {
          var acc = 0.0
          var p = 0
          while (p < 3) {
            var q = 0
            while (q < 3) { acc += w(i)(p) * g(p)(q) * w(j)(q); q += 1 }
            p += 1
          }
          if (!(math.abs(acc - g(i)(j)) < 1e-6)) return false
          j += 1
        }
        i += 1
      }
      true
    }
    // space-group test: ∃t s.t. f·W + t maps the site set onto itself
    def mapsSites(w: Array[Array[Int]]): Boolean = {
      def rowTimesW(f: Array[Double]): Array[Double] = Array(
        f(0) * w(0)(0) + f(1) * w(1)(0) + f(2) * w(2)(0),
        f(0) * w(0)(1) + f(1) * w(1)(1) + f(2) * w(2)(1),
        f(0) * w(0)(2) + f(1) * w(1)(2) + f(2) * w(2)(2))
      val aw = rowTimesW(af)
      val pws = fr.map(rowTimesW)
      candidates.exists { ti =>
        val t0 = fr(ti)(0) - aw(0); val t1 = fr(ti)(1) - aw(1); val t2 = fr(ti)(2) - aw(2)
        sites.indices.forall { pi =>
          val pw = pws(pi)
          sites.indices.exists(qi => sites(qi).element == sites(pi).element &&
            dWrap(wrap(pw(0) + t0), wrap(fr(qi)(0))) < tol &&
            dWrap(wrap(pw(1) + t1), wrap(fr(qi)(1))) < tol &&
            dWrap(wrap(pw(2) + t2), wrap(fr(qi)(2))) < tol)
        }
      }
    }
    // the 3⁹ candidates with entries −1..1, w00 slowest and w22 fastest;
    // only the |det| = 1 ones are materialized
    val ops = Vector.newBuilder[Array[Array[Int]]]
    val e = new Array[Int](9)
    var code = 0
    while (code < 19683) {
      var c = code
      var d = 8
      while (d >= 0) { e(d) = c % 3 - 1; c /= 3; d -= 1 }
      val det = e(0) * (e(4) * e(8) - e(5) * e(7)) - e(1) * (e(3) * e(8) - e(5) * e(6)) +
        e(2) * (e(3) * e(7) - e(4) * e(6))
      if (det == 1 || det == -1) {
        val w = Array(Array(e(0), e(1), e(2)), Array(e(3), e(4), e(5)), Array(e(6), e(7), e(8)))
        if (preservesMetric(w) && mapsSites(w)) ops += w
      }
      code += 1
    }
    ops.result()
  }

  /** Symmetrically-DISTINCT Miller indices up to maxMiller for a given
    * bulk (enumeration_utils.py:40-55 /
    * pymatgen get_symmetrically_distinct_miller_indices): one canonical
    * representative per orbit of the bulk's symmetry group acting on hkl.
    * A rotation f′ = f·W maps the plane family h to h·W⁻ᵀ; over the whole
    * group {W⁻¹} = {W}, so orbits are computed with the column action
    * W·hᵀ. fcc/bcc at maxMiller=1 collapse 13 directions → 3 facets
    * ((100), (110), (111)); every screen downstream is spared the
    * symmetric-duplicate fan-out.
    */
  def millerIndices(bulk: Structure, maxMiller: Int): Seq[Seq[Int]] = {
    val ops = symmetryRotations(bulk)
    val candidates = millerIndices(maxMiller)
    // visit all-positive "conventional" facets first so they become the
    // emitted representative of their orbit
    val ordered = candidates.sortBy(m => (-m(0), -m(1), -m(2)))
    val seen = mutable.Set.empty[Seq[Int]]
    val out = mutable.ArrayBuffer.empty[Seq[Int]]
    for (m <- ordered if !seen.contains(m)) {
      out += m
      for (w <- ops) {
        val hm = Seq(
          w(0)(0) * m(0) + w(0)(1) * m(1) + w(0)(2) * m(2),
          w(1)(0) * m(0) + w(1)(1) * m(1) + w(1)(2) * m(2),
          w(2)(0) * m(0) + w(2)(1) * m(1) + w(2)(2) * m(2))
        seen += normalizeSign(hm)
      }
    }
    out.sortBy(m => (m(0), m(1), m(2))).toSeq
  }

  /** Termination shifts for (bulk, miller): the distinct stacking
    * positions of atomic planes along the Miller normal — wrap(h·f) per
    * basis site, clustered at `tol` (the reference's SlabGenerator
    * get_slabs(tol=0.3) termination search, enumerate_slabs_adslabs.py:
    * 43-55, derives shifts from the same plane positions). Adjacent
    * clusters across the z=0/1 wrap seam are merged. Each shift is a REAL
    * atomic plane: slabStructure cuts the cell so that plane is the
    * exposed top surface.
    */
  def shifts(bulk: Structure, miller: Seq[Int], tol: Double = 0.05): Seq[Double] = {
    def wrap(x: Double): Double = { val w = x - math.floor(x); if (w >= 1.0) 0.0 else w }
    val ps = bulk.sites.map(s =>
      wrap(miller(0) * s.frac_coords(0) + miller(1) * s.frac_coords(1) +
        miller(2) * s.frac_coords(2))).sorted
    val clusters = ps.foldLeft(List.empty[List[Double]]) {
      case (Nil, p) => List(List(p))
      case (cur :: done, p) =>
        if (p - cur.last <= tol) (cur :+ p) :: done else List(p) :: cur :: done
    }.reverse.map(_.min)
    // wrap seam: a plane just under 1.0 and one at 0.0 are the same plane
    val merged =
      if (clusters.size > 1 && (1.0 - clusters.last) + clusters.head <= tol)
        clusters.dropRight(1)
      else clusters
    merged
  }

  /** Integer basis of the Miller plane lattice {x ∈ Z³ : h·x = 0} plus a
    * stacking vector with h·v₃ = 1 (exists for coprime (h,k,l), via the
    * extended Euclid construction). This is the real reorientation step of
    * slab construction (enumeration_utils.py:21-68 gets it from pymatgen):
    * the slab cell is spanned by (v₁A, v₂A, n·v₃A) with A the bulk lattice.
    */
  def millerBasis(h: Int, k: Int, l: Int): (Seq[Int], Seq[Int], Seq[Int]) = {
    def reduce(v: Seq[Int]): Seq[Int] = {
      val g = v.map(math.abs).filter(_ != 0) match {
        case Nil => 1
        case xs  => xs.reduce(gcd)
      }
      v.map(_ / g)
    }
    val (v1, v2) =
      if (l != 0) (reduce(Seq(l, 0, -h)), reduce(Seq(0, l, -k)))
      else if (k != 0) (reduce(Seq(k, -h, 0)), Seq(0, 0, 1))
      else (Seq(0, 1, 0), Seq(0, 0, 1))
    // extended-gcd stacking vector: h·x + k·y + l·z = 1. Scala's % keeps
    // the dividend's sign, so the recursive gcd can come out negative —
    // normalize each step to a positive gcd.
    def extGcd(a: Long, b: Long): (Long, Long, Long) = {
      val (g, x, y) =
        if (b == 0) (a, 1L, 0L)
        else { val (g0, x0, y0) = extGcd(b, a % b); (g0, y0, x0 - (a / b) * y0) }
      if (g < 0) (-g, -x, -y) else (g, x, y)
    }
    val (g1, xh, yk) = extGcd(h, k)          // xh·h + yk·k = g1 ≥ 0
    val (_, u, zl) = extGcd(g1, l)           // u·g1 + zl·l = 1
    val v3 = Seq((xh * u).toInt, (yk * u).toInt, zl.toInt)
    require(h * v3(0) + k * v3(1) + l * v3(2) == 1,
      s"stacking vector failed for ($h,$k,$l)")
    (v1, v2, v3)
  }

  /** Real slab geometry for a Miller plane: reorient the bulk into the
    * cell spanned by (v₁, v₂, nLayers·v₃) in lattice coordinates, fill it
    * with every lattice translate of the basis (|det M| × natoms sites —
    * exact atom conservation), and cut at the termination plane `shift`
    * (a stacking position from [[shifts]]) so that plane is the exposed
    * top surface. Exact for any lattice.
    */
  def slabStructure(bulk: Structure, miller: Seq[Int], shift: Double,
                    nLayers: Int = 2): Structure = {
    val Seq(h, k, l) = miller
    val (v1, v2, v3) = millerBasis(h, k, l)
    val m = Array(v1.toArray, v2.toArray, v3.map(_ * nLayers).toArray)
    val det =
      m(0)(0).toLong * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
      m(0)(1).toLong * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
      m(0)(2).toLong * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
    require(det != 0, s"degenerate miller basis for $miller")
    // adj(M)ᵀ / det = M⁻¹ (for g = (f + t)·M⁻¹ row-vector convention)
    val adj = Array(
      Array(m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1),
        m(0)(2) * m(2)(1) - m(0)(1) * m(2)(2),
        m(0)(1) * m(1)(2) - m(0)(2) * m(1)(1)),
      Array(m(1)(2) * m(2)(0) - m(1)(0) * m(2)(2),
        m(0)(0) * m(2)(2) - m(0)(2) * m(2)(0),
        m(0)(2) * m(1)(0) - m(0)(0) * m(1)(2)),
      Array(m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0),
        m(0)(1) * m(2)(0) - m(0)(0) * m(2)(1),
        m(0)(0) * m(1)(1) - m(0)(1) * m(1)(0)))
    // new lattice rows: Mᵢ · A
    val a = bulk.lattice.map(_.toArray).toArray
    val newLat = (0 until 3).map(i => (0 until 3).map(c =>
      m(i)(0) * a(0)(c) + m(i)(1) * a(1)(c) + m(i)(2) * a(2)(c)).toSeq)
    // Fill the cell: every integer-translate residue class of the bulk
    // lattice modulo the new cell contributes exactly one wrapped site →
    // |det M| sites per basis atom (exact conservation). The scan box is
    // wide enough to hit every residue class; wrapping + dedup collapses
    // repeats: the first point of each rounded class, in scan order, is the
    // one kept, and only it becomes a Site.
    val Seq(bx, by, bz) = (0 until 3).map(c => m.map(row => math.abs(row(c))).sum + 1)
    def wrap(x: Double): Double = { val w = x - math.floor(x); if (w >= 1.0) 0.0 else w }
    @inline def rounded(x: Double): Long = math.round(wrap(x + 1e-7) * 1e6)
    // translate so the termination plane `shift` (a stacking position from
    // shifts(), g₂ = (h·f)/nLayers per layer) lands just below the cell
    // top: that plane becomes the exposed surface after the vacuum cut.
    // ε ≪ the shifts() cluster tolerance keeps the plane itself on the
    // kept side of the wrap.
    val cut = (shift + 1e-4) / nLayers
    val a00 = adj(0)(0); val a01 = adj(0)(1); val a02 = adj(0)(2)
    val a10 = adj(1)(0); val a11 = adj(1)(1); val a12 = adj(1)(2)
    val a20 = adj(2)(0); val a21 = adj(2)(1); val a22 = adj(2)(2)
    // rounded positions seen, per (element, wyckoff); each rounded
    // coordinate lies in 0..10⁶ < 2²⁰, so a position packs into one Long
    val seen = mutable.HashMap.empty[(String, String), mutable.LongMap[Unit]]
    val kept = mutable.ArrayBuffer.empty[Site]
    bulk.sites.foreach { s =>
      val classes = seen.getOrElseUpdate((s.element, s.wyckoff), mutable.LongMap.empty[Unit])
      val s0 = s.frac_coords(0); val s1 = s.frac_coords(1); val s2 = s.frac_coords(2)
      var tx = -bx
      while (tx <= bx) {
        val f0 = s0 + tx
        var ty = -by
        while (ty <= by) {
          val f1 = s1 + ty
          var tz = -bz
          while (tz <= bz) {
            val f2 = s2 + tz
            val x = wrap((f0 * a00 + f1 * a10 + f2 * a20) / det)
            val y = wrap((f0 * a01 + f1 * a11 + f2 * a21) / det)
            val z = wrap((f0 * a02 + f1 * a12 + f2 * a22) / det - cut)
            val key = (rounded(x) << 40) | (rounded(y) << 20) | rounded(z)
            if (!classes.contains(key)) {
              classes.update(key, ())
              kept += s.copy(frac_coords = Seq(x, y, z))
            }
            tz += 1
          }
          ty += 1
        }
        tx += 1
      }
    }
    val unique = kept.toSeq
      .sortBy(s => (s.element, s.frac_coords(2), s.frac_coords(0), s.frac_coords(1)))
    // VACUUM: a slab is not a periodic supercell — without vacuum along the
    // stacking axis every "surface" site keeps bulk coordination and the
    // broken-bond score is identically zero (and the termination shift is a
    // rigid translation). Stretch c by (1+vacuumFrac) and compress the
    // occupied region, so PBC images across z are separated by empty space
    // and real top/bottom surfaces exist.
    val vacuumFrac = 0.5
    val vacLat = Seq(newLat(0), newLat(1), newLat(2).map(_ * (1 + vacuumFrac)))
    val vacSites = unique.map(s => s.copy(frac_coords = Seq(
      s.frac_coords(0), s.frac_coords(1), s.frac_coords(2) / (1 + vacuumFrac))))
    Structure(vacLat, vacSites)
  }

  /** G1 `enumerate_slabs` (enumerate_slabs_adslabs.py:31-78): one bulk →
    * all (miller, shift, top) surfaces; non-invertible slabs contribute a
    * flipped bottom (G5 union, enumeration_utils.py:59-67).
    */
  /** Candidate shifts → built slabs, deduped by in-plane-translation
    * equivalence: two cuts of the same plane family that differ only by a
    * lateral shift are one termination (the reference's get_slabs returns
    * distinct terminations only). First (smallest) shift wins.
    */
  def distinctTerminations(bulk: Structure, m: Seq[Int]): Seq[(Double, Structure)] =
    shifts(bulk, m).foldLeft(Vector.empty[(Double, Structure)]) {
      case (acc, sh) =>
        val slab = slabStructure(bulk, m, sh)
        if (acc.exists { case (_, kept) =>
          Geometry.sameUpToInPlaneTranslation(kept, slab) }) acc
        else acc :+ ((sh, slab))
    }

  def enumerateSlabs(b: Bulk, maxMiller: Int): Seq[Surface] =
    for {
      m <- millerIndices(b.bulk_structure, maxMiller)
      (sh, slab) <- distinctTerminations(b.bulk_structure, m)
      (struct, top) <- if (Geometry.isInvertibleSlab(slab))
        Seq((slab, true))
      else Seq((slab, true), (Geometry.flip(slab), false))
    } yield Surface(
      b.bulk_id, b.bulk_data_source, b.bulk_natoms, b.bulk_xc,
      b.bulk_nelements, b.bulk_elements, b.bulk_e_above_hull, b.bulk_band_gap,
      b.bulk_structure,
      slab_millers = m,
      slab_max_miller_index = m.map(math.abs).max,
      slab_shift = sh,
      slab_top = top,
      slab_natoms = struct.sites.size,
      slab_structure = struct)

  private def hashOf(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % StableHash.P)

  /** One adslab placement configuration: id + fractional site. */
  case class AdslabConfig(config_id: Int, site_x: Double, site_y: Double)

  /** G3 `enumerate_adslabs` (enumerate_slabs_adslabs.py:81-122): per
    * (surface, adsorbate), M ∈ 1..4 placement configs at hash-derived
    * heuristic sites. Returned as a list → stored as an array column.
    */
  def enumerateAdslabs(surfaceKey: String, smiles: String): Seq[AdslabConfig] = {
    val h = hashOf(s"$surfaceKey|$smiles")
    val n = (1 + (h % 4)).toInt
    (0 until n).map { i =>
      val hi = hashOf(s"$surfaceKey|$smiles|$i")
      AdslabConfig(i, (hi % 1000) / 1000.0, ((hi / 1000) % 1000) / 1000.0)
    }
  }

  /** Canonical surface content key (U10 discipline: ints/strings only,
    * never raw floats — shift enters via its hash-stable rational index).
    */
  def surfaceKey(bulkId: String, millers: Seq[Int], shift: Double, top: Boolean): String =
    s"$bulkId|${millers.mkString(",")}|${math.round(shift * 1000)}|$top"
}
