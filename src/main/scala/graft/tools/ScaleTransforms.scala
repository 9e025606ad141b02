package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Honest-scaling transforms for the replication harness
  * ([[MakeSf1]]): copy 0 is the base corpus verbatim; copy c
  * gets a transform that preserves WITHIN-copy structure exactly while
  * decorrelating copies from each other — so a 10× corpus is 10× the
  * work, not 10 aliases of the same work and not a lattice of cross-copy
  * near-duplicate cliques.
  *
  *  - text: length-preserving alphabet PERMUTATION (seeded Fisher–Yates
  *    keyed by the copy index) — token/shingle/fingerprint statistics per
  *    copy are isomorphic to the base (the map is bijective on letters;
  *    the corpus is lowercase+space), but cross-copy shingles never
  *    collide. A permutation rather than the earlier caesar ROTATION
  *    because replication must COMPOSE for the second decade of scale
  *    evidence (sf1 → sf10): rotations add mod 26, so 100 two-level
  *    copies would share only 26 distinct total shifts — every base doc
  *    would reappear verbatim ~4× (artificial exact-dup cliques, the
  *    exact artifact the harness exists to avoid). Compositions of
  *    distinct-keyed random permutations are themselves distinct for all
  *    practical purposes.
  *  - embeddings: seeded SIGNED PERMUTATION of the dimensions —
  *    out[i] = ±v[π_c(i)] with π_c a Fisher–Yates permutation of the
  *    dim indices and an independent ±1 sign per slot, both keyed by c.
  *    A signed permutation matrix is orthogonal, so within-copy dot
  *    products, norms, cosines, and clusters are value-preserved, while
  *    cross-copy cosines are those of a vector against an unrelated
  *    orthogonal image (no systematic alignment). Two earlier forms
  *    failed: +0.001·c constant offset planted a 10-clique of near-dups
  *    per base vector (v vs v+ε·1 is cosine ≈ 0.999); circular rotation
  *    by c fixed that but could not COMPOSE (rotations add mod DIM=64,
  *    so a two-level 100× corpus re-planted cross-copy duplicate
  *    vectors, locking the ANN family out of second-decade evidence).
  *    Signed permutations compose to signed permutations — composition
  *    of distinct-keyed draws is pairwise distinct for all 100 sf10
  *    combinations (brute-forced by ScaleTransformsSpec), with 64!·2^64
  *    possible maps behind that check.
  */
object ScaleTransforms {
  private val az = "abcdefghijklmnopqrstuvwxyz"

  /** Deterministic alphabet permutation keyed by c: Fisher–Yates driven
    * by a 64-bit LCG (fixed constants, no JDK Random — the mapping is
    * data-generation contract, pinned by ScaleTransformsSpec).
    */
  private[tools] def perm(c: Int): String = {
    val a = az.toCharArray
    var state = c.toLong
    def next(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % bound).toInt
    }
    var i = a.length - 1
    while (i >= 1) {
      val j = next(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  def remapText(text: Column, c: Int): Column =
    if (c == 0) text else translate(text, az, perm(c))

  /** Fisher–Yates permutation of 0..dim-1 keyed by c, on an LCG stream
    * salted away from [[perm]]'s (same copy key must not correlate the
    * letter map with the dimension map).
    */
  private[tools] def dimPerm(c: Int, dim: Int): Array[Int] = {
    val a = Array.tabulate(dim)(identity)
    var state = c.toLong ^ 0x9e3779b97f4a7c15L
    def next(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 33) % bound).toInt
    }
    var i = a.length - 1
    while (i >= 1) {
      val j = next(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** ±1 per output slot, keyed by c on a third salted LCG stream. */
  private[tools] def dimSigns(c: Int, dim: Int): Array[Int] = {
    var state = c.toLong ^ 0xc2b2ae3d27d4eb4fL
    Array.fill(dim) {
      state = state * 6364136223846793005L + 1442695040888963407L
      if (((state >>> 33) & 1L) == 0L) 1 else -1
    }
  }

  /** Signed dimension permutation: out[i] = sign_c[i] · vec[π_c(i)].
    * Identity at c = 0 (copy 0 is the base corpus verbatim). Float
    * negation is exact, so the transform is value-preserving under any
    * orthogonality-dependent readout.
    */
  def permuteEmbedding(vec: Column, c: Int, dim: Int): Column = {
    if (c == 0) vec
    else {
      val p = dimPerm(c, dim)
      val s = dimSigns(c, dim)
      array((0 until dim).map { i =>
        val e = element_at(vec, p(i) + 1)
        if (s(i) < 0) negate(e) else e
      }: _*)
    }
  }
}
