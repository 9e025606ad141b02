package graft.domain

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Golden digests of the enumeration and scoring kernels: the exact `Double`
  * bits of every slab `Enumerate.enumerateSlabs` emits (lattice, frac
  * coords, shift, top) and of both `Geometry` slab scores, per bulk, at
  * `max_miller_index` 2. Any change to a kernel's arithmetic, its site order
  * or its dedup choice changes a digest; a rewrite that keeps the results
  * bit-identical keeps them all. The pinned values were recorded on the
  * kernels as first written.
  */
class KernelGoldenSpec extends AnyFunSuite {
  import KernelGoldenSpec._

  private val maxMiller = 2

  /** The fixture bulks, a jittered low-symmetry L1₂ cell (keeps every
    * Miller plane and has non-invertible slabs) and a 1×1×2 fcc supercell.
    */
  private val bulks: Seq[Bulk] = Fixtures.bulks ++ {
    val base = Fixtures.bulks.head
    val a = 3.75
    val cubic = Seq(Seq(a, 0.0, 0.0), Seq(0.0, a, 0.0), Seq(0.0, 0.0, a))
    val l12 = Seq(
      Site("Au", Seq(0.0, 0.0, 0.0), "a"), Site("Cu", Seq(0.0, 0.5, 0.5), "c"),
      Site("Cu", Seq(0.5, 0.0, 0.5), "c"), Site("Cu", Seq(0.5, 0.5, 0.0), "c"))
    // fixed, aperiodic offsets in ±0.03: no RNG, so no JVM dependence
    val jittered = l12.zipWithIndex.map { case (s, i) =>
      s.copy(frac_coords = s.frac_coords.zipWithIndex.map { case (x, c) =>
        x + (((i * 5 + c * 3) % 7) - 3) * 0.01
      })
    }
    val fcc = Fixtures.bulks.find(_.bulk_id == "mp-30").get.bulk_structure
    val doubled = Structure(
      Seq(fcc.lattice(0), fcc.lattice(1), fcc.lattice(2).map(_ * 2)),
      fcc.sites.flatMap(s => Seq(0.0, 0.5).map(dz => s.copy(frac_coords =
        Seq(s.frac_coords(0), s.frac_coords(1), s.frac_coords(2) / 2 + dz)))))
    Seq(
      base.copy(bulk_id = "low-l12", bulk_natoms = 4, bulk_nelements = 2,
        bulk_elements = Seq("Au", "Cu"), bulk_structure = Structure(cubic, jittered)),
      base.copy(bulk_id = "fcc-112", bulk_natoms = 8, bulk_elements = Seq("Cu"),
        bulk_structure = doubled))
  }

  private lazy val surfaces: Map[String, Seq[Surface]] =
    bulks.map(b => b.bulk_id -> Enumerate.enumerateSlabs(b, maxMiller)).toMap

  test("enumerateSlabs output is bit-identical to the golden digest") {
    val got = bulks.map { b =>
      val ss = surfaces(b.bulk_id)
      b.bulk_id -> (ss.size, digest(ss.map(slabBits)))
    }.toMap
    assert(got == goldenSlabs)
  }

  test("Geometry slab scores are bit-identical to the golden digest") {
    val got = bulks.map { b =>
      b.bulk_id -> digest(surfaces(b.bulk_id).map(s => Seq(
        Geometry.brokenBondScore(s.slab_structure, b.bulk_structure),
        Geometry.surfaceDensityScore(s.slab_structure, b.bulk_structure))))
    }.toMap
    assert(got == goldenScores)
  }
}

object KernelGoldenSpec {

  private def slabBits(s: Surface): Seq[Double] =
    Seq(s.slab_millers.map(_.toDouble), Seq(s.slab_shift, if (s.slab_top) 1.0 else 0.0),
      s.slab_structure.lattice.flatten,
      s.slab_structure.sites.flatMap(t => t.frac_coords ++
        Seq(t.element.hashCode.toDouble, t.wyckoff.hashCode.toDouble))).flatten

  /** First 16 hex digits of a SHA-256 over the raw bits of every value. */
  def digest(rows: Seq[Seq[Double]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(8)
    rows.foreach { r =>
      md.update(ByteBuffer.allocate(4).putInt(r.size).array())
      r.foreach { x => buf.clear(); md.update(buf.putLong(java.lang.Double.doubleToRawLongBits(x)).array()) }
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  val goldenSlabs: Map[String, (Int, String)] = Map(
    "mp-126" -> (6, "241cd8b83a7f263e"),
    "mp-30" -> (6, "f027df14764bb830"),
    "mp-81" -> (6, "af3897beb3f30087"),
    "mp-13" -> (6, "3db4f9cdc177ead0"),
    "mp-79" -> (18, "f729769396e12b4c"),
    "low-l12" -> (298, "01fa7480c2ec58aa"),
    "fcc-112" -> (12, "c1934366aa7f1e21"))

  val goldenScores: Map[String, String] = Map(
    "mp-126" -> "fbf7d96cf39b097d",
    "mp-30" -> "937dfdbf6e414f8e",
    "mp-81" -> "6449c37f6d183498",
    "mp-13" -> "3bf59878f80118c4",
    "mp-79" -> "e08d31c363577ac4",
    "low-l12" -> "0e31bae6e91bb460",
    "fcc-112" -> "d507f791970b575d")
}
