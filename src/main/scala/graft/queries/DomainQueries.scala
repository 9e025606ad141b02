package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain._

/** Domain-engine entries for the driver gate: these run the REAL screening
  * engine (crystal fixtures → enumeration → geometry scores → cascade) —
  * not SQL-expressible, so the driver records rows-only checks; full
  * semantics are pinned by the ScalaTest suites (PipelineSpec etc.).
  * sfDir is accepted per the contract but the inputs are the deterministic
  * crystal fixtures (FIXTURES.md §1).
  */
object DomainQueries extends QueryPack {

  /** The screen's result rows. The driver reads rows, never the ledger,
    * so compile's ledger listener is released at once: an unclosed
    * `Result` keeps its listener on the session for every later query.
    */
  private def screenRows(s: SparkSession, cfg: ScreenConfig): DataFrame = {
    val r = Pipeline.compile(s, cfg)
    r.close()
    r.results
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A11 nuclearity over enumerated slabs of the fixture bulks.
    "a11_nuclearity" -> ((s, _) => {
      import s.implicits._
      val nucUdf = udf((slab: Structure, els: Seq[String]) =>
        Nuclearity.nuclearity(slab, els).map { case (el, info) =>
          (el, info.nuclearity) }.toSeq.sortBy(_._1))
      s.createDataset(Fixtures.bulks)
        .flatMap(b => Enumerate.enumerateSlabs(b, 1))
        .toDF()
        .select(col("bulk_id"), col("slab_millers"), col("slab_shift"),
          explode(nucUdf(col("slab_structure"), col("bulk_elements"))).as("n"))
        // stringified: the driver comparator cannot sort/hash array columns
        .select(col("bulk_id"),
          concat_ws(",", col("slab_millers")).as("slab_millers"),
          col("slab_shift"),
          col("n._1").as("element"), col("n._2").as("nuclearity"))
        .orderBy("bulk_id", "slab_millers", "slab_shift", "element")
    }),

    // The full config-driven screen (G1→J1→G3→M1→A7) on fixtures.
    "screen_e2e_fixture" -> ((s, _) => {
      val cfg = Config.fromJson(
        """{
          "bulk_filters": {"filter_by_object_size": 50},
          "adsorbate_smiles": ["*CO", "*H"],
          "max_miller_index": 1,
          "slab_filters": {
            "filter_best_shift_by_score": {"score": "broken_bonds", "threshold": 0.5}},
          "steps": [
            {"type": "inference", "label": "cheap"},
            {"type": "filter_by_adsorption_energy_target",
             "adsorbate_smiles": "*CO", "target": -1.0, "range": 1.0},
            {"type": "inference", "label": "expensive"}]
        }""", Map.empty)
      screenRows(s, cfg)
        // stringified: the driver comparator cannot sort/hash array columns
        .select(col("bulk_id"),
          concat_ws(",", col("slab_millers")).as("slab_millers"),
          col("slab_shift"),
          col("slab_top"), col("adsorbate_smiles"), col("min_dE_cheap"),
          col("min_dE_expensive"), col("filter_reason"))
        .orderBy("bulk_id", "slab_millers", "slab_shift", "slab_top",
          "adsorbate_smiles")
    }),

    // F9-through-the-pipeline: the same screen driven by a Pourbaix bulk
    // filter (broadcast diagram join) — Pt/Cu/Au survive, Fe/ZnO drop
    // before enumeration ever fans out (PipelineSpec pins the kept set).
    "screen_e2e_pourbaix" -> ((s, _) => {
      val cfg = Config.fromJson(
        """{
          "bulk_filters": {"filter_by_pourbaix_stability": {
            "pH_lower": 0.0, "pH_upper": 14.0, "pH_step": 2.0,
            "V_lower": -1.0, "V_upper": 1.0, "V_step": 0.5,
            "max_decomposition_energy": 0.5}},
          "adsorbate_smiles": ["*CO"],
          "max_miller_index": 1,
          "steps": [{"type": "inference", "label": "cheap"}]
        }""", Map.empty)
      screenRows(s, cfg)
        .select(col("bulk_id"),
          concat_ws(",", col("slab_millers")).as("slab_millers"),
          col("slab_shift"), col("slab_top"), col("adsorbate_smiles"),
          col("min_dE_cheap"))
        .orderBy("bulk_id", "slab_millers", "slab_shift", "slab_top",
          "adsorbate_smiles")
    }),

    // U16/U17 invertibility + flip over enumerated fixture slabs: for each
    // slab, whether z→−z maps it onto itself and whether flip is an
    // involution on the site set (values pinned in GeometrySpec).
    "u16_invertibility" -> ((s, _) => {
      import s.implicits._
      val invUdf = udf((slab: Structure) => Geometry.isInvertibleSlab(slab))
      val involUdf = udf((slab: Structure) => {
        val ff = Geometry.flip(Geometry.flip(slab))
        val r = (st: Structure) => st.sites.map(x =>
          (x.element, x.frac_coords.map(v => math.round(v * 1e6)))).toSet
        r(ff) == r(slab)
      })
      s.createDataset(Fixtures.bulks)
        .flatMap(b => Enumerate.enumerateSlabs(b, 1))
        .toDF()
        // stringified: the driver comparator cannot sort/hash array columns
        .select(col("bulk_id"),
          concat_ws(",", col("slab_millers")).as("slab_millers"),
          col("slab_shift"),
          col("slab_top"),
          invUdf(col("slab_structure")).as("invertible"),
          involUdf(col("slab_structure")).as("flip_involution"))
        .orderBy("bulk_id", "slab_millers", "slab_shift", "slab_top")
    }),

    // U12–U14 anomaly flags over synthetic (initial, final) frame pairs.
    "u12_anomaly_flags" -> ((s, _) => {
      import s.implicits._
      val lat = Seq(Seq(10.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0))
      def frame(zAds: Double) = Structure(lat, Seq(
        Site("Pt", Seq(0.5, 0.5, 0.40), "a"),
        Site("C", Seq(0.5, 0.5, 0.55), "a"),
        Site("O", Seq(0.5, 0.5, zAds), "a")))
      val rows = (0 until 20).map { i =>
        val zFin = 0.60 + i * 0.02
        (i.toLong, frame(0.67), frame(zFin))
      }
      s.createDataset(rows).toDF("pair_id", "initial", "final")
        .withColumn("flags", udf((a: Structure, b: Structure) => {
          val f = Anomaly.flags(a, b, Seq(1, 2), Seq(0))
          Seq(f.dissociation, f.desorption, f.reconstruction)
        }).apply(col("initial"), col("final")))
        .select(col("pair_id"),
          col("flags")(0).as("dissociation"),
          col("flags")(1).as("desorption"),
          col("flags")(2).as("reconstruction"))
        .orderBy("pair_id")
    }),

    // U13 surface reconstruction, INDIVIDUALLY hash-gated (r6 verdict #5;
    // u12's sweep only ever fires dissociation): a Pt–Pt slab bond at
    // 2.5 Å (tight-bonded, bound 2.72) whose final-frame length sweeps
    // 2.5 + 0.2·i — hysteresis says BROKEN only past the LOOSE bound
    // 1.5·2.72 = 4.08 Å, so the flag flips exactly at i = 8 (4.1 Å;
    // i = 7 is 3.9). Margins ≥ 0.02 Å — three decimal orders above
    // double noise on this arithmetic.
    "u13_surface_change" -> ((s, _) => {
      import s.implicits._
      val lat = Seq(Seq(10.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0))
      def slab(x2: Double) = Structure(lat, Seq(
        Site("Pt", Seq(0.50, 0.5, 0.4), "a"),
        Site("Pt", Seq(x2, 0.5, 0.4), "a")))
      val rows = (0 until 10).map { i =>
        (i.toLong, slab(0.75), slab(0.75 + i * 0.02))
      }
      s.createDataset(rows).toDF("pair_id", "initial", "final")
        .withColumn("surface_changed",
          udf((a: Structure, b: Structure) =>
            Anomaly.hasSurfaceChanged(a, b, Seq(0, 1)))
            .apply(col("initial"), col("final")))
        .select("pair_id", "surface_changed")
        .orderBy("pair_id")
    }),

    // U14 desorption, individually hash-gated: a Pt–H bond (radii sum
    // 1.67, cushion 1.5 → bound 2.505 Å) whose final length sweeps
    // 1.5 + 0.15·i — desorbed (no adsorbate–slab bond left) flips exactly
    // at i = 7 (2.55 Å; i = 6 is 2.40). Margin 0.045 Å.
    "u14_desorbed" -> ((s, _) => {
      import s.implicits._
      val lat = Seq(Seq(10.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0))
      def pair(zH: Double) = Structure(lat, Seq(
        Site("Pt", Seq(0.5, 0.5, 0.40), "a"),
        Site("H", Seq(0.5, 0.5, zH), "a")))
      val rows = (0 until 10).map { i =>
        (i.toLong, pair(0.40 + (1.5 + i * 0.15) / 10.0))
      }
      s.createDataset(rows).toDF("pair_id", "final")
        .withColumn("desorbed",
          udf((b: Structure) => Anomaly.isDesorbed(b, Seq(1)))
            .apply(col("final")))
        .select("pair_id", "desorbed")
        .orderBy("pair_id")
    }),
  )

  /** Literal expected-value oracles: these queries run the fixture-driven
    * domain engine (deterministic, sf-independent), so the oracle is the
    * PINNED output itself -- values cross-audited against the ScalaTest
    * pins (GeometrySpec/DomainSpec/AnomalySpec semantics) and frozen as a
    * VALUES table. This upgrades the driver check from rows-only to full
    * rows+schema+hash: any drift in enumeration, nuclearity union-find,
    * flip/invertibility, or anomaly thresholds now fails the gate loudly.
    * (Doubles serialized as shortest round-trip strings CAST to DOUBLE --
    * string->double parse is nearest-even in DuckDB, so bits match.)
    */
  val oracles: Map[String, String] = Map(
    "screen_e2e_fixture" ->
      """SELECT * FROM (VALUES
          ('mp-126', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-0.528' AS DOUBLE), CAST('-0.8719999999999999' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-126', '1,0,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('0.883' AS DOUBLE), CAST('-0.8679999999999999' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-126', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-1.693' AS DOUBLE), CAST('-2.037' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-126', '1,1,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('-2.25' AS DOUBLE), CAST('-4.0' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-126', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-1.991' AS DOUBLE), CAST('1.6719999999999997' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-126', '1,1,1', CAST('0.0' AS DOUBLE), true, '*H', CAST('0.06500000000000039' AS DOUBLE), CAST('0.3070000000000004' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-13', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('1.9329999999999998' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-13', '1,0,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('-0.07100000000000017' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-13', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('0.7679999999999998' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-13', '1,1,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('-3.2039999999999997' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-13', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('0.46999999999999975' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-13', '1,1,1', CAST('0.0' AS DOUBLE), true, '*H', CAST('-0.8889999999999998' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-30', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-0.31499999999999995' AS DOUBLE), CAST('-2.066' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-30', '1,0,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('-1.4969999999999999' AS DOUBLE), CAST('1.5460000000000003' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-30', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-3.473' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-30', '1,1,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('1.37' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-30', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-3.771' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-30', '1,1,1', CAST('0.0' AS DOUBLE), true, '*H', CAST('-2.315' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), false, '*CO', CAST('-0.5539999999999998' AS DOUBLE), CAST('-0.8980000000000001' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), false, '*H', CAST('0.625' AS DOUBLE), CAST('-1.126' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('1.0039999999999996' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('-2.678' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), false, '*CO', CAST('-2.268' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), false, '*H', CAST('1.6639999999999997' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), true, '*CO', CAST('0.04999999999999982' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), true, '*H', CAST('-1.8730000000000002' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-0.16100000000000003' AS DOUBLE), CAST('-1.912' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-79', '1,1,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('-3.818' AS DOUBLE), CAST('-0.7749999999999999' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), false, '*CO', CAST('0.22599999999999998' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), false, '*H', CAST('-0.8380000000000001' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-2.452' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), true, '*H', CAST('-1.5030000000000001' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), false, '*CO', CAST('1.7619999999999996' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), false, '*H', CAST('1.928' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), true, '*CO', CAST('-3.693' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), true, '*H', CAST('-1.093' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-81', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-3.565' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-81', '1,0,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('1.88' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-81', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('1.2699999999999996' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-81', '1,1,0', CAST('0.0' AS DOUBLE), true, '*H', CAST('-1.2530000000000001' AS DOUBLE), CAST(NULL AS DOUBLE), 'no *CO in [-2.0, 0.0] for min_dE_cheap'),
          ('mp-81', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-1.021' AS DOUBLE), CAST('-2.7720000000000002' AS DOUBLE), CAST(NULL AS VARCHAR)),
          ('mp-81', '1,1,1', CAST('0.0' AS DOUBLE), true, '*H', CAST('1.0620000000000003' AS DOUBLE), CAST('0.09799999999999986' AS DOUBLE), CAST(NULL AS VARCHAR)))
          AS t(bulk_id, slab_millers, slab_shift, slab_top, adsorbate_smiles, min_dE_cheap, min_dE_expensive, filter_reason)""",
    "screen_e2e_pourbaix" ->
      """SELECT * FROM (VALUES
          ('mp-126', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-0.528' AS DOUBLE)),
          ('mp-126', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-1.693' AS DOUBLE)),
          ('mp-126', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-1.991' AS DOUBLE)),
          ('mp-30', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-0.31499999999999995' AS DOUBLE)),
          ('mp-30', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-3.473' AS DOUBLE)),
          ('mp-30', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-3.771' AS DOUBLE)),
          ('mp-81', '1,0,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-3.565' AS DOUBLE)),
          ('mp-81', '1,1,0', CAST('0.0' AS DOUBLE), true, '*CO', CAST('1.2699999999999996' AS DOUBLE)),
          ('mp-81', '1,1,1', CAST('0.0' AS DOUBLE), true, '*CO', CAST('-1.021' AS DOUBLE)))
          AS t(bulk_id, slab_millers, slab_shift, slab_top, adsorbate_smiles, min_dE_cheap)""",
    "a11_nuclearity" ->
      """SELECT * FROM (VALUES
          ('mp-126', '1,0,0', CAST('0.0' AS DOUBLE), 'Pt', 'infinite'),
          ('mp-126', '1,1,0', CAST('0.0' AS DOUBLE), 'Pt', 'semi-finite'),
          ('mp-126', '1,1,1', CAST('0.0' AS DOUBLE), 'Pt', 'infinite'),
          ('mp-13', '1,0,0', CAST('0.0' AS DOUBLE), 'Fe', 'infinite'),
          ('mp-13', '1,1,0', CAST('0.0' AS DOUBLE), 'Fe', 'infinite'),
          ('mp-13', '1,1,1', CAST('0.0' AS DOUBLE), 'Fe', '1'),
          ('mp-30', '1,0,0', CAST('0.0' AS DOUBLE), 'Cu', 'infinite'),
          ('mp-30', '1,1,0', CAST('0.0' AS DOUBLE), 'Cu', 'semi-finite'),
          ('mp-30', '1,1,1', CAST('0.0' AS DOUBLE), 'Cu', 'infinite'),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), 'O', '0'),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), 'O', '1'),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), 'Zn', '1'),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), 'Zn', '0'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), 'O', '1'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), 'O', '0'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), 'Zn', '0'),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), 'Zn', '1'),
          ('mp-79', '1,1,0', CAST('0.0' AS DOUBLE), 'O', '1'),
          ('mp-79', '1,1,0', CAST('0.0' AS DOUBLE), 'Zn', '1'),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), 'O', '0'),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), 'O', '1'),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), 'Zn', '1'),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), 'Zn', '0'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), 'O', '1'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), 'O', '0'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), 'Zn', '0'),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), 'Zn', '1'),
          ('mp-81', '1,0,0', CAST('0.0' AS DOUBLE), 'Au', 'infinite'),
          ('mp-81', '1,1,0', CAST('0.0' AS DOUBLE), 'Au', 'semi-finite'),
          ('mp-81', '1,1,1', CAST('0.0' AS DOUBLE), 'Au', 'infinite'))
          AS t(bulk_id, slab_millers, slab_shift, element, nuclearity)""",
    "u12_anomaly_flags" ->
      """SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), false, false, false),
          (CAST(1 AS BIGINT), false, false, false),
          (CAST(2 AS BIGINT), false, false, false),
          (CAST(3 AS BIGINT), false, false, false),
          (CAST(4 AS BIGINT), false, false, false),
          (CAST(5 AS BIGINT), false, false, false),
          (CAST(6 AS BIGINT), false, false, false),
          (CAST(7 AS BIGINT), true, false, false),
          (CAST(8 AS BIGINT), true, false, false),
          (CAST(9 AS BIGINT), true, false, false),
          (CAST(10 AS BIGINT), true, false, false),
          (CAST(11 AS BIGINT), true, false, false),
          (CAST(12 AS BIGINT), true, false, false),
          (CAST(13 AS BIGINT), true, false, false),
          (CAST(14 AS BIGINT), true, false, false),
          (CAST(15 AS BIGINT), true, false, false),
          (CAST(16 AS BIGINT), true, false, false),
          (CAST(17 AS BIGINT), true, false, false),
          (CAST(18 AS BIGINT), true, false, false),
          (CAST(19 AS BIGINT), true, false, false))
          AS t(pair_id, dissociation, desorption, reconstruction)""",
    "u13_surface_change" ->
      """SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), false),
          (CAST(1 AS BIGINT), false),
          (CAST(2 AS BIGINT), false),
          (CAST(3 AS BIGINT), false),
          (CAST(4 AS BIGINT), false),
          (CAST(5 AS BIGINT), false),
          (CAST(6 AS BIGINT), false),
          (CAST(7 AS BIGINT), false),
          (CAST(8 AS BIGINT), true),
          (CAST(9 AS BIGINT), true))
          AS t(pair_id, surface_changed)""",
    "u14_desorbed" ->
      """SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), false),
          (CAST(1 AS BIGINT), false),
          (CAST(2 AS BIGINT), false),
          (CAST(3 AS BIGINT), false),
          (CAST(4 AS BIGINT), false),
          (CAST(5 AS BIGINT), false),
          (CAST(6 AS BIGINT), false),
          (CAST(7 AS BIGINT), true),
          (CAST(8 AS BIGINT), true),
          (CAST(9 AS BIGINT), true))
          AS t(pair_id, desorbed)""",
    "u16_invertibility" ->
      """SELECT * FROM (VALUES
          ('mp-126', '1,0,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-126', '1,1,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-126', '1,1,1', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-13', '1,0,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-13', '1,1,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-13', '1,1,1', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-30', '1,0,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-30', '1,1,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-30', '1,1,1', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), false, false, true),
          ('mp-79', '1,0,0', CAST('0.0' AS DOUBLE), true, false, true),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), false, false, true),
          ('mp-79', '1,0,0', CAST('0.5' AS DOUBLE), true, false, true),
          ('mp-79', '1,1,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), false, false, true),
          ('mp-79', '1,1,1', CAST('0.0' AS DOUBLE), true, false, true),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), false, false, true),
          ('mp-79', '1,1,1', CAST('0.5' AS DOUBLE), true, false, true),
          ('mp-81', '1,0,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-81', '1,1,0', CAST('0.0' AS DOUBLE), true, true, true),
          ('mp-81', '1,1,1', CAST('0.0' AS DOUBLE), true, true, true))
          AS t(bulk_id, slab_millers, slab_shift, slab_top, invertible, flip_involution)""",
  )
}
