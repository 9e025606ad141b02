package graft.domain

/** Typed data model for the screening pipeline (SURVEY §1.2–1.3; shapes
  * from /root/reference: load_bulk_structures.py:8-15, outputs.md:5-16,
  * enumerate_slabs_adslabs.py:62-73,180-187).
  *
  * The reference's rows are convention-keyed Python dicts; here every stage
  * has a static case-class schema (Spark encoders give the nested
  * StructTypes for free), so column presence is a compile-time fact instead
  * of a runtime `"bulk_id" in columns` check (filters.py:42).
  */

/** One crystal site: element symbol, fractional coords (len 3), Wyckoff tag
  * (pymatgen Structure site shape, load_bulk_structures.py:38).
  */
case class Site(element: String, frac_coords: Seq[Double], wyckoff: String)

/** Crystal structure: 3×3 lattice (row vectors, Å) + sites. Matches
  * pymatgen's own JSON rendering so reference data files round-trip
  * (SURVEY §1.3).
  */
case class Structure(lattice: Seq[Seq[Double]], sites: Seq[Site])

/** Bulk input row (required fields per load_bulk_structures.py:8-15). */
case class Bulk(
    bulk_id: String,
    bulk_data_source: String,
    bulk_natoms: Int,
    bulk_xc: String,
    bulk_nelements: Int,
    bulk_elements: Seq[String],
    bulk_e_above_hull: Option[Double],
    bulk_band_gap: Option[Double],
    bulk_structure: Structure)

/** Adsorbate dimension row (load_adsorbate_structures.py:31-37). */
case class Adsorbate(
    adsorbate_smiles: String,
    adsorbate_elements: Seq[String],
    adsorbate_bond_indices: Seq[Int],
    adsorbate_data_source: String)

/** Surface row = bulk columns ∪ slab columns (schema accretion,
  * enumerate_slabs_adslabs.py:62-73). Kept flat like the reference.
  */
case class Surface(
    bulk_id: String,
    bulk_data_source: String,
    bulk_natoms: Int,
    bulk_xc: String,
    bulk_nelements: Int,
    bulk_elements: Seq[String],
    bulk_e_above_hull: Option[Double],
    bulk_band_gap: Option[Double],
    bulk_structure: Structure,
    slab_millers: Seq[Int],
    slab_max_miller_index: Int,
    slab_shift: Double,
    slab_top: Boolean,
    slab_natoms: Int,
    slab_structure: Structure)

/** A [[Surface]] plus `slab_scores`: the scores the screen's slab filters
  * rank by, in the order the pipeline asked for them. They are computed
  * inside the enumeration flatMap, where the slab and bulk already exist as
  * Scala objects (see `Pipeline.enumerateSurfaces`).
  */
case class ScoredSurface(
    bulk_id: String,
    bulk_data_source: String,
    bulk_natoms: Int,
    bulk_xc: String,
    bulk_nelements: Int,
    bulk_elements: Seq[String],
    bulk_e_above_hull: Option[Double],
    bulk_band_gap: Option[Double],
    bulk_structure: Structure,
    slab_millers: Seq[Int],
    slab_max_miller_index: Int,
    slab_shift: Double,
    slab_top: Boolean,
    slab_natoms: Int,
    slab_structure: Structure,
    slab_scores: Seq[Double])

object ScoredSurface {
  def apply(s: Surface, scores: Seq[Double]): ScoredSurface = ScoredSurface(
    s.bulk_id, s.bulk_data_source, s.bulk_natoms, s.bulk_xc, s.bulk_nelements,
    s.bulk_elements, s.bulk_e_above_hull, s.bulk_band_gap, s.bulk_structure,
    s.slab_millers, s.slab_max_miller_index, s.slab_shift, s.slab_top,
    s.slab_natoms, s.slab_structure, scores)
}

/** Per-element nuclearity result (nuclearity.py:39-61): nuclearity is an
  * int rendered as string, or "semi-finite"/"infinite" — the union type
  * forces string encoding (SURVEY §1.3).
  */
case class NuclearityInfo(nuclearity: String, nuclearities: Seq[Int])
