package graft.domain

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class PipelineSpec extends SparkTestBase {

  private lazy val cfg = Config.fromJson(
    """{
      "bulk_filters": {
        "filter_by_bulk_ids": ["mp-126", "mp-30", "mp-81", "mp-13", "mp-79"],
        "filter_by_object_size": 50
      },
      "adsorbate_smiles": ["*CO", "*H"],
      "max_miller_index": 1,
      "slab_filters": {
        "filter_best_shift_by_score": {"score": "broken_bonds", "threshold": 0.5}
      },
      "steps": [
        {"type": "inference", "label": "cheap"},
        {"type": "filter_by_adsorption_energy_target",
         "adsorbate_smiles": "*CO", "target": -1.0, "range": 1.0},
        {"type": "inference", "label": "expensive"}
      ]
    }""", Map.empty)

  test("end-to-end screen: cascade columns, soft delete, ledger") {
    val r = Pipeline.compile(spark, cfg)
    val out = r.results.cache()
    val n = out.count()
    assert(n > 0)

    // schema accretion through the stages
    val cols = out.columns.toSet
    assert(Set("bulk_id", "slab_millers", "slab_shift", "slab_top",
      "adsorbate_smiles", "adslab_configs", "dE_cheap", "min_dE_cheap",
      "dE_expensive", "min_dE_expensive", "filter_reason").subsetOf(cols))

    // soft-delete semantics (SURVEY §7.4 #3): marked rows remain, and the
    // second inference never scored them
    val marked = out.filter(col("filter_reason").isNotNull)
    assert(marked.count() > 0, "target filter should mark some groups")
    assert(marked.filter(col("min_dE_expensive").isNotNull).count() == 0,
      "soft-deleted rows must short-circuit later inference")
    // live rows did get scored by both models
    val live = out.filter(col("filter_reason").isNull)
    assert(live.count() > 0)
    assert(live.filter(col("min_dE_expensive").isNull).count() == 0)

    // groups are homogeneous: within (bulk, millers, shift, top) either all
    // marked or none (grouped EXISTS is group-level, filters.py:284-296)
    val mixed = out.groupBy("bulk_id", "slab_millers", "slab_shift", "slab_top")
      .agg(countDistinct(col("filter_reason").isNull).as("k"))
      .filter(col("k") > 1).count()
    assert(mixed == 0)

    // ledger observed every stage via the single action
    assert(r.ledger.await("adslab_00_enumerated"))
    assert(r.ledger.await("bulk_00_input"))
    val m = r.ledger.metrics
    assert(m.get("bulk_00_input").contains(5L))
    assert(m.contains("surf_00_enumerated") && m.contains("adslab_00_enumerated"))
    assert(m("surf_01_best_shift") <= m("surf_00_enumerated"))
    out.unpersist()
  }

  test("F9 pourbaix filter: diagram broadcast join keeps stable bulks only") {
    val pcfg = Config.fromJson(
      """{
        "bulk_filters": {"filter_by_pourbaix_stability": {
          "pH_lower": 0.0, "pH_upper": 14.0, "pH_step": 2.0,
          "V_lower": -1.0, "V_upper": 1.0, "V_step": 0.5,
          "max_decomposition_energy": 0.5}},
        "adsorbate_smiles": ["*H"],
        "max_miller_index": 1,
        "steps": [{"type": "inference", "label": "cheap"}]
      }""", Map.empty)
    val r = Pipeline.compile(spark, pcfg)
    val kept = r.results.select("bulk_id").distinct()
      .collect().map(_.getString(0)).toSet
    // fixtures: Pt/Cu/Au stable in the window; Fe corrodes everywhere;
    // ZnO's min decomp is 0.55 — just over the 0.5 cap
    assert(kept == Set("mp-126", "mp-30", "mp-81"))
    assert(r.ledger.await("bulk_01_pourbaix"))
    assert(r.ledger.metrics("bulk_01_pourbaix") == 3L)
    r.close()
  }

  test("unknown smiles fails validation (silent-empty-screen guard)") {
    val bad = cfg.copy(adsorbateSmiles = Seq("*C0"))
    val errs = Config.validate(bad)
    assert(errs.exists(_.contains("*C0")))
    intercept[IllegalArgumentException] { Pipeline.compile(spark, bad) }
  }

  test("Result.close unregisters the ledger listener") {
    val r = Pipeline.compile(spark, cfg)
    r.results.count()
    assert(r.ledger.await("bulk_00_input"))
    r.close()
    val before = r.ledger.metrics.toMap
    // run another screen: the closed ledger must not absorb its metrics
    val r2 = Pipeline.compile(spark, cfg)
    r2.results.count()
    assert(r2.ledger.await("bulk_00_input"))
    r2.close()
    assert(r.ledger.metrics.toMap == before)
  }

  test("cascade determinism: two runs produce identical results") {
    val a = Pipeline.compile(spark, cfg).results
      .select("surface_key", "adsorbate_smiles", "min_dE_cheap").collect().toSet
    val b = Pipeline.compile(spark, cfg).results
      .select("surface_key", "adsorbate_smiles", "min_dE_cheap").collect().toSet
    assert(a == b)
  }

  test("surrogate energies live in the parity range [-4, 2)") {
    val r = Pipeline.compile(spark, cfg)
    val mm = r.results.agg(min(col("min_dE_cheap")), max(col("min_dE_cheap")))
      .collect()(0)
    assert(mm.getDouble(0) >= -4.0 && mm.getDouble(1) < 2.0)
  }

  test("slab scores never round-trip the structure columns through a UDF") {
    // both score kinds: best shift by broken bonds, then top-k by density
    val scfg = cfg.copy(slabFilters = cfg.slabFilters :+ TopKByScore("surface_density", Some(2), None))
    val r = Pipeline.compile(spark, scfg)
    val heavy = Set("slab_structure", "bulk_structure")
    val qe = r.results.queryExecution
    val udfInputs = Seq(qe.optimizedPlan, qe.sparkPlan).flatMap { plan =>
      plan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u })
        .flatMap(_.children.flatMap(_.references.map(_.name)))
    }
    assert(udfInputs.nonEmpty, "the adslab UDFs should still be in the plan")
    assert(udfInputs.filter(heavy.contains).isEmpty)
    r.results.count()
    assert(r.ledger.await("surf_02_topk"))
    assert(r.ledger.metrics("surf_02_topk") <= r.ledger.metrics("surf_01_best_shift"))
    assert(!r.results.columns.contains("slab_scores"))
    r.close()
  }

  test("filter order is user order: ids filter observed before size filter") {
    val r = Pipeline.compile(spark, cfg)
    r.results.count()
    assert(r.ledger.await("bulk_00_input"))
    assert(r.ledger.await("bulk_02_MaxSize"))
    val keys = r.ledger.metrics.keys.filter(_.startsWith("bulk_")).toSeq.sorted
    assert(keys.head == "bulk_00_input")
    assert(keys.exists(_.startsWith("bulk_01_ByIds")))
    assert(keys.exists(_.startsWith("bulk_02_MaxSize")))
  }
}

class MemoCacheSpec extends SparkTestBase {

  test("memo cache: second run computes only misses (cache_utils semantics)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo").toString
    val computeCount = spark.sparkContext.longAccumulator("computed")
    val cache = new MemoCache(spark, dir, "energy", "v1")

    def compute(df: org.apache.spark.sql.DataFrame) = {
      val cc = computeCount
      val f = udf((k: String) => { cc.add(1); k.length.toDouble })
      df.withColumn("value", f(col("key")))
    }

    val in1 = Seq("a", "bb", "ccc").toDF("key")
    val r1 = cache.through(in1, "key")(compute)
    assert(r1.count() == 3 && computeCount.value == 3)

    // duplicate input keys compute once and return once
    computeCount.reset()
    val dup = Seq("zz", "zz", "zz").toDF("key")
    val rd = cache.through(dup, "key")(compute)
    assert(rd.count() == 1, "duplicate keys must not fan out")
    assert(computeCount.value == 1)

    // second run: 2 hits, 1 new key
    computeCount.reset()
    val in2 = Seq("bb", "ccc", "dddd").toDF("key")
    val r2 = cache.through(in2, "key")(compute)
    assert(r2.count() == 3)
    assert(computeCount.value == 1, "hits must not recompute")
    assert(cache.size() == 5)

    // code-version bump invalidates (cache_utils.py:102-131)
    val cacheV2 = new MemoCache(spark, dir, "energy", "v2")
    computeCount.reset()
    cacheV2.through(in1, "key")(compute).count()
    assert(computeCount.value == 3)
  }

  test("memo cache: a missing table, or one with no committed file, reads as empty") {
    val dir = java.nio.file.Files.createTempDirectory("memo")
    val cache = new MemoCache(spark, dir.toString, "energy", "v1")
    assert(cache.read().isEmpty)
    assert(cache.size() == 0L)
    // what a crashed first append leaves behind
    java.nio.file.Files.createDirectories(dir.resolve("energy/v=v1/_temporary/0"))
    assert(cache.read().isEmpty)
  }

  test("memo cache: a corrupt table fails loudly instead of reading as empty") {
    val dir = java.nio.file.Files.createTempDirectory("memo")
    val table = java.nio.file.Files.createDirectories(dir.resolve("energy/v=v1"))
    java.nio.file.Files.write(table.resolve("part-00000.parquet"), "not parquet".getBytes)
    val cache = new MemoCache(spark, dir.toString, "energy", "v1")
    intercept[Exception] { cache.read() }
  }

  private def counted(acc: org.apache.spark.util.LongAccumulator)
                     (df: org.apache.spark.sql.DataFrame) = {
    val f = udf((k: String) => { acc.add(1); k.length.toDouble })
    df.withColumn("value", f(col("key")))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  private def runDirs(table: java.nio.file.Path): Seq[String] =
    java.nio.file.Files.list(table).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(_.getFileName.toString).filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  test("memo cache: a second action on through's result does not re-run compute") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo").toString
    val acc = spark.sparkContext.longAccumulator("computed")
    val cache = new MemoCache(spark, dir, "energy", "v1")
    val r1 = cache.through(Seq("a", "bb").toDF("key"), "key")(counted(acc))
    assert(acc.value == 2)
    assert(rows(r1) == Map("a" -> 1.0, "bb" -> 2.0) && r1.count() == 2)
    val r2 = cache.through(Seq("bb", "ccc", "ccc").toDF("key"), "key")(counted(acc))
    assert(acc.value == 3, "the append is compute's one execution")
    assert(rows(r2) == Map("bb" -> 2.0, "ccc" -> 3.0) && r2.count() == 2)
    assert(acc.value == 3, "actions on the result read the written run")
  }

  test("memo cache: a crashed append beside committed runs reads only the " +
    "committed rows, and resume recomputes just the lost keys") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo")
    val acc = spark.sparkContext.longAccumulator("computed")
    val cache = new MemoCache(spark, dir.toString, "energy", "v1")
    cache.through(Seq("a", "bb").toDF("key"), "key")(counted(acc)).count()
    // what an append that died before its job commit leaves: its rows
    // only under the run's _temporary
    val table = dir.resolve("energy/v=v1")
    Seq(("ccc", 3.0), ("dddd", 4.0)).toDF("key", "value")
      .write.parquet(table.resolve("run-1/_temporary/0/task_0").toString)
    assert(rows(cache.read().get) == Map("a" -> 1.0, "bb" -> 2.0))
    acc.reset()
    val r = cache.through(Seq("a", "bb", "ccc", "dddd").toDF("key"), "key")(counted(acc))
    assert(acc.value == 2, "only the lost keys recompute")
    assert(rows(r) == Map("a" -> 1.0, "bb" -> 2.0, "ccc" -> 3.0, "dddd" -> 4.0))
    assert(r.count() == 4 && cache.size() == 4)
    assert(runDirs(table) == Seq("run-0", "run-1", "run-2"))
  }

  test("memo cache: resume across compact() gives the same rows, one run " +
    "directory, and no recompute of hits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo")
    val acc = spark.sparkContext.longAccumulator("computed")
    val cache = new MemoCache(spark, dir.toString, "energy", "v1")
    Seq(Seq("a", "bb"), Seq("bb", "ccc"), Seq("dddd")).foreach { ks =>
      cache.through(ks.toDF("key"), "key")(counted(acc)).count()
    }
    val table = dir.resolve("energy/v=v1")
    assert(runDirs(table).size == 3)
    val before = rows(cache.read().get)
    cache.compact()
    assert(runDirs(table) == Seq("run-2-compacted"))
    assert(rows(cache.read().get) == before && cache.size() == 4)
    // a crash after the publishing rename, before the deletes: the
    // superseded runs come back beside the compacted one
    val compacted = table.resolve("run-2-compacted")
    Seq("run-0", "run-2").foreach { r =>
      org.apache.commons.io.FileUtils.copyDirectory(compacted.toFile, table.resolve(r).toFile)
    }
    assert(cache.size() == 4, "superseded runs must not fan a key out")
    acc.reset()
    val r = cache.through(Seq("a", "bb", "ccc", "dddd", "eeeee").toDF("key"), "key")(counted(acc))
    assert(acc.value == 1, "hits must not recompute after a compaction")
    assert(rows(r) == before + ("eeeee" -> 5.0) && r.count() == 5)
    cache.compact()
    assert(runDirs(table) == Seq("run-3-compacted") && cache.size() == 5)
  }

  test("memo cache: an all-hit call keeps no run and returns the hits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo")
    try {
      val acc = spark.sparkContext.longAccumulator("computed")
      val cache = new MemoCache(spark, dir.toString, "energy", "v1")
      assert(cache.through(Seq.empty[String].toDF("key"), "key")(counted(acc)).count() == 0)
      assert(cache.read().isEmpty, "a call with no key keeps no run")
      val first = rows(cache.through(Seq("a", "bb").toDF("key"), "key")(counted(acc)))
      val table = dir.resolve("energy/v=v1")
      val runs = runDirs(table)
      val again = Seq(1, 2).map(_ =>
        cache.through(Seq("bb", "a", "a").toDF("key"), "key")(counted(acc)))
      assert(runDirs(table) == runs, "an all-hit call must not add a run")
      assert(again.map(rows) == Seq(first, first) && again.forall(_.count() == 2))
      assert(acc.value == 2, "hits must not recompute")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("memo cache: a committed file whose schema differs from the declared " +
    "one fails loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo").toString
    val acc = spark.sparkContext.longAccumulator("computed")
    val cache = new MemoCache(spark, dir, "energy", "v1")
    cache.through(Seq("a").toDF("key"), "key")(counted(acc)).count()
    acc.reset()
    val retyped = intercept[IllegalStateException] {
      cache.through(Seq("a", "bb").toDF("key"), "key")(
        counted(acc)(_).withColumn("value", col("value").cast("string")))
    }
    assert(retyped.getMessage.contains("schema"))
    intercept[IllegalStateException] {
      cache.through(Seq("a", "bb").toDF("key"), "key")(
        counted(acc)(_).withColumn("extra", lit(1)))
    }
    assert(acc.value == 0, "a schema mismatch fails before compute runs")
    // a committed run whose file is not parquet at all
    val run = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "energy/v=v1/run-5"))
    java.nio.file.Files.write(run.resolve("part-00000.parquet"), "not parquet".getBytes)
    intercept[Exception] { cache.read() }
  }
}

class ModelRegistrySpec extends SparkTestBase {
  test("M2 executor-singleton: one load per label") {
    var loads = 0
    def load() = { loads += 1; SurrogateModel("m") }
    ModelRegistry.getOrLoad("reg-test", () => load())
    ModelRegistry.getOrLoad("reg-test", () => load())
    assert(loads == 1)
  }

  test("M3 batch sizing: device memory / per-sample, floor 1, capped") {
    assert(Predict.batchSize(16L << 30, 2L << 30) == 8)   // 16 GiB / 2 GiB
    assert(Predict.batchSize(1L << 30, 8L << 30) == 1)    // floor at 1
    assert(Predict.batchSize(1L << 40, 1L << 10) == 4096) // cap
  }

  test("M1 batched partition operator == column inference (bit-exact), " +
    "with M3-sized batches and short-circuit") {
    import spark.implicits._
    val rows = (1 to 97).map { i =>
      ("k" + i, if (i % 2 == 0) "*CO" else "*H", Seq.fill(1 + i % 4)(0),
        if (i % 10 == 0) "dead" else null)
    }
    val df = rows.toDF("surface_key", "adsorbate_smiles", "adslab_configs",
      "filter_reason")
    SurrogateBatchedBackend.observedBatches.clear()
    val backend = SurrogateBatchedBackend("cheap", bytesPerSample = 1L << 30)
    // no orderBy: its range-partition sampling pass would run the operator
    // twice and double the observed batch ledger — sort client-side
    val batched = Predict.inferenceBatched(df, backend, deviceMemBytes = 8L << 30)
      .collect().toSeq.sortBy(_.getString(0))
    val columnar = Predict.inference(df, SurrogateModel("cheap"))
      .collect().toSeq.sortBy(_.getString(0))
    // identical rows, including null-scored soft-deleted ones
    assert(batched == columnar)
    // batches were M3-sized: ≤ 8 live rows per predictBatch call
    val seen = SurrogateBatchedBackend.observedBatches.toArray(Array.empty[Integer])
    assert(seen.nonEmpty && seen.forall(_ <= 8))
    assert(seen.map(_.toInt).sum == rows.count(_._4 == null))
  }

  test("G4 graph featurization: fcc cell is the complete 4-node bond graph") {
    val fcc = Fixtures.bulks.find(_.bulk_id == "mp-126").get.bulk_structure
    val g = Featurize.graph(fcc)
    assert(g.nNodes == 4)
    assert(g.atomicNumbers == Seq(78, 78, 78, 78))
    // every basis pair sits at a/√2 = 2.77 Å < 2·1.36·1.2 → complete graph,
    // both directed orientations per bond
    assert(g.edgeSrc.size == 12)
    assert(g.edgeSrc.zip(g.edgeDst).forall { case (i, j) => i != j })
    // symmetric: j→i present for every i→j
    val es = g.edgeSrc.zip(g.edgeDst).toSet
    assert(es.forall { case (i, j) => es.contains((j, i)) })
  }

  test("G4+M1 structure inference: real graph build, batched, short-circuit") {
    import spark.implicits._
    val fcc = Fixtures.bulks.find(_.bulk_id == "mp-126").get.bulk_structure
    val bcc = Fixtures.bulks.find(_.bulk_id == "mp-13").get.bulk_structure
    val df = Seq(
      (fcc, "*CO", Seq(0, 0), null.asInstanceOf[String]),
      (bcc, "*H", Seq(0, 0, 0), null.asInstanceOf[String]),
      (fcc, "*H", Seq(0), "dead"))
      .toDF("slab_structure", "adsorbate_smiles", "adslab_configs", "filter_reason")
    val backend = GraphSurrogateBackend("gnn")
    val out = Predict.inferenceFromStructures(df, backend, 8L << 30)
      .collect().toSeq.sortBy(_.getString(1))
    assert(out.size == 3)
    val dead = out.find(r => !r.isNullAt(3)).get
    assert(dead.isNullAt(out.head.fieldIndex("min_dE_gnn")))
    val live = out.filter(_.isNullAt(3))
    assert(live.forall(r => !r.isNullAt(r.fieldIndex("min_dE_gnn"))))
    // deterministic: same graphs → same energies
    val expected = backend.predictGraphs(Seq((Featurize.graph(fcc), "*CO", 2)))
      .head.min
    assert(live.find(_.getString(1) == "*CO").get
      .getDouble(out.head.fieldIndex("min_dE_gnn")) == expected)
    // energies stay in the surrogate parity range
    assert(live.forall { r =>
      val v = r.getDouble(r.fieldIndex("min_dE_gnn")); v >= -4.0 && v < 2.0 })
  }

  test("M5 cascade accepts a batched inference step") {
    import spark.implicits._
    val df = Seq(("k1", "*CO", Seq(0, 0), null.asInstanceOf[String]))
      .toDF("surface_key", "adsorbate_smiles", "adslab_configs", "filter_reason")
    val out = Predict.cascade(df,
      Seq(BatchedInferenceStep(SurrogateBatchedBackend("exp"), 8L << 30)),
      hashCols = Seq("surface_key"))
    assert(out.columns.contains("min_dE_exp"))
    assert(out.select("min_dE_exp").as[Double].head() ==
      SurrogateModel("exp").predict("k1", "*CO", 2).min)
  }
}
