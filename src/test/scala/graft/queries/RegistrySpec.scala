package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Contract checks for the driver gate (smoke at sf0.001; the full oracle
  * diff runs via graft.Verify + tools/compare.py at sf0.01).
  */
class RegistrySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("oracle keys are a subset of query keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query runs at sf0.001 with a stable non-empty schema") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        assert(df.columns.nonEmpty)
        df.count() // executes the plan
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("output column names are identifier-safe and unique (oracle contract)") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val cols = fn(spark, sf).columns
      assert(cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
        s"$name: non-identifier columns ${cols.mkString(",")}")
      assert(cols.distinct.length == cols.length, s"$name: duplicate columns")
    }
  }

  // ---------------------------------------------------------------------
  // The Q_CAP plan lint — mechanizing the rule the sf10 probes had to
  // re-discover THREE times (sim10 r8, sim14 r9, sr2 r10, latent in
  // sim1/sim4/sim5/sim7/sim8/sim9): a query set sampled with a bare
  // `id % MOD == r` grows proportionally to the corpus, and when that
  // set feeds a join (broadcast query set × corpus scan) the query goes
  // quadratic at scale. The rule: every modulo-SAMPLE filter (modulus
  // ≥ 10 — parity/small-bucket splits are linear partitions, not
  // samples) that sits under a join must be accompanied by an absolute
  // cap (`attr < K`) on the same attribute somewhere in the plan.
  // Runs on the ANALYZED plan, so any spelling (Column DSL, expr(),
  // SQL) is caught at birth.
  // ---------------------------------------------------------------------

  private object SampleCapLint {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}

    private def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case other => other
    }
    private def attrName(e: Expression): Option[String] = stripCast(e) match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    private def litLong(e: Expression): Option[Long] =
      if (e.foldable) e.eval() match {
        case n: java.lang.Number => Some(n.longValue)
        case _ => None
      } else None

    /** Attribute names filtered by `attr % m == r` with a sampling-rate
      * modulus (m ≥ 10) against a constant residue.
      */
    private def samples(cond: Expression): Seq[String] = cond.collect {
      case EqualTo(l, r) =>
        Seq((l, r), (r, l)).flatMap { case (x, v) =>
          stripCast(x) match {
            case m: Remainder =>
              for (a <- attrName(m.left); mod <- litLong(m.right)
                   if mod >= 10; _ <- litLong(v)) yield a
            case m: Pmod =>
              for (a <- attrName(m.left); mod <- litLong(m.right)
                   if mod >= 10; _ <- litLong(v)) yield a
            case _ => None
          }
        }
    }.flatten

    /** Attribute names bounded above by a constant (`a < K`, `a <= K`,
      * `K > a`, `K >= a`) — the absolute-cap side of the rule.
      */
    private def caps(cond: Expression): Seq[String] = cond.collect {
      case LessThan(l, r) if litLong(r).isDefined => attrName(l)
      case LessThanOrEqual(l, r) if litLong(r).isDefined => attrName(l)
      case GreaterThan(l, r) if litLong(l).isDefined => attrName(r)
      case GreaterThanOrEqual(l, r) if litLong(l).isDefined => attrName(r)
    }.flatten

    /** Violations: sampled-but-uncapped attribute names on Filters that
      * sit under (are descendants of) a Join — the exhaustive-side shape.
      * The cap may live in any Filter of the plan (the cap and the sample
      * are often separate conjuncts after pushdown).
      */
    def violations(plan: LogicalPlan): Seq[String] = {
      val capped: Set[String] =
        plan.collect { case f: Filter => caps(f.condition) }.flatten.toSet
      def walk(p: LogicalPlan, underJoin: Boolean): Seq[String] = {
        val here = p match {
          case f: Filter if underJoin =>
            samples(f.condition).distinct.filterNot(capped)
              .map(a => s"'$a' is %-sampled under a join with no absolute cap")
          case _ => Nil
        }
        val childUnder = underJoin || p.isInstanceOf[Join]
        here ++ p.children.flatMap(walk(_, childUnder))
      }
      walk(plan, underJoin = false).distinct
    }
  }

  test("plan lint: modulo-sampled query sets under a join carry an " +
    "absolute cap (the Q_CAP rule, mechanized)") {
    // deliberate exceptions, each with the documented linearity argument
    val allow: Map[String, String] = Map(
      // SemDeDup's recipe NEEDS C ∝ N seeds: within-cluster pair work is
      // N²/C, so a GROWING cluster count is what keeps the query linear
      // (SimilarityQueries' CENT_CAP scaladoc documents the measurement)
      "d11b_semdedup_kmeans" -> "C ∝ N is the SemDeDup linearity recipe",
      "d11_semdedup_apply" -> "same k-means seed recipe as d11b",
      // Deterministic corpus PARTITIONS (not query samples): both halves
      // of the split flow into a KEYED equi-join whose cost is
      // output-bounded, so a split growing with the corpus is the
      // intended linear semantics. The defect class the lint hunts is a
      // sampled set × corpus-scan (broadcast/exhaustive scoring).
      "cdc2_snapshot_diff" -> ("residue splits SIMULATE two snapshots; " +
        "one keyed full-outer join"),
      "cdc4_delta_join" -> ("residue splits SIMULATE insert deltas; " +
        "keyed dim joins, partials merged"),
      "dq4_profile_drift" -> ("residue splits SIMULATE two versions; " +
        "profiles are single aggregates, join is O(columns)"),
      "t8_decontaminate" -> ("bench slice is a corpus partition; " +
        "gram-keyed posting join is output-bounded"),
      "t22_contamination_report" -> "same bench-slice partition as t8",
      "t17_bloom_decontaminate" -> ("bench slice feeds a BOUNDED Bloom " +
        "bitset aggregate, never a row join"),
      "mm6_payload_neardup" -> ("residue INJECTS retouched twin fixtures " +
        "(near-dups scale with the corpus by design); banded simhash join"))
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if allow.contains(name) => Nil
      case (name, fn) =>
        SampleCapLint.violations(fn(spark, sf).queryExecution.analyzed)
          .map(v => s"$name: $v")
    }
    assert(failures.isEmpty,
      "uncapped modulo samples under a join (add `attr < CAP` per the " +
        "Q_CAP rule):\n" + failures.mkString("\n"))
  }

  test("plan lint is failing-by-construction on the pre-fix sr2 spelling") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    // sr2's round-9 query-set derivation: bare % QMOD, no absolute cap —
    // the exact shape the round-10 sf10 probe measured at 33.1× per 10×
    val preFix = graft.ops.Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 5)
    assert(SampleCapLint.violations(preFix.queryExecution.analyzed).nonEmpty,
      "the lint must flag the pre-fix sr2 query-set spelling")
    // and the fixed spelling (absolute cap alongside the sample) passes
    val postFix = graft.ops.Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000),
      "vec_id", "embedding", 5)
    assert(SampleCapLint.violations(postFix.queryExecution.analyzed).isEmpty,
      "the lint must accept the capped spelling")
  }

  // ---------------------------------------------------------------------
  // The plan-size budget (PLANS.md, "severed lazy-checkpoint leaves"): a
  // consumer that references a full-lineage frame splices that frame's
  // whole build subtree into its analyzed plan once per reference — gr7
  // referenced the edge list five times and its plan grew to 494 KB — and
  // every invocation re-pays Catalyst and AQE over it. The rule: every
  // query's analyzed plan stays within a byte budget on its tree string.
  // ---------------------------------------------------------------------

  private object PlanSizeLint {
    /** Bytes of the analyzed plan's tree string. */
    def size(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.treeString.length

    /** 128 KiB: the largest plan at sf0.001 is sk6_hll_intersection's
      * 94 KB (then d24 at 86 KB, sk7 at 78 KB), so the budget leaves about
      * a third of headroom, for attribute ids that grow a digit in a long
      * session. Never raised to get a pass: a plan over it gets a
      * checkpointed leaf, as the gr family did.
      */
    val budget: Int = 128 * 1024
  }

  test("plan lint: every analyzed plan stays within the size budget " +
    "(the spliced-lineage rule, mechanized)") {
    val sizes = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> PlanSizeLint.size(fn(spark, sf))
    }
    val over = sizes.filter(_._2 > PlanSizeLint.budget)
    assert(over.isEmpty,
      s"analyzed plans over ${PlanSizeLint.budget} bytes (reference a " +
        "checkpointed leaf, not a full-lineage frame):\n" + over.mkString("\n"))
  }

  test("plan-size lint is failing-by-construction on an unsevered " +
    "propagation loop and green on severed rounds") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.ops.Blocks
    // hbRegisters' round shape over the full-lineage edge list: each round
    // reads the previous one twice (union arm + edge join), so without a
    // severed leaf per round the analyzed plan doubles every round
    val e = GraphQueries.graphBase(spark, sf).e
    def rounds(sever: DataFrame => DataFrame): DataFrame =
      (1 to 6).foldLeft(e.select(col("src").as("id"))) { (prev, _) =>
        sever(prev.unionAll(
          e.join(prev.withColumnRenamed("id", "nbr"), col("dst") === col("nbr"))
            .select(col("src").as("id"))).distinct())
      }
    assert(PlanSizeLint.size(rounds(identity)) > PlanSizeLint.budget,
      "the lint must flag a plan that splices every round's lineage")
    val leaves = scala.collection.mutable.Buffer.empty[DataFrame]
    try {
      val severed = rounds { df =>
        val cp = Blocks.checkpoint(df, eager = false)
        leaves += cp
        cp
      }
      assert(PlanSizeLint.size(severed) <= PlanSizeLint.budget,
        "the lint must accept rounds read from checkpointed leaves")
    } finally leaves.foreach(Blocks.unpersist)
  }

  // ---------------------------------------------------------------------
  // The inferred-filter lint (PLANS.md, d25 / ngramJaccard): a plain
  // explode of an array ATTRIBUTE lets InferFiltersFromGenerate add
  // `size(arr) > 0`, and alias substitution pushes it down with the whole
  // split → shingle → polyHash chain inlined — beneath `parallelize`'s
  // round-robin exchange, so the chain runs twice, once on the single
  // scan task. The rule: no Filter under a round-robin Repartition holds
  // a higher-order function, a ScalaUDF or a polyHash. Runs on the
  // OPTIMIZED plan, where the inferred filter exists.
  // ---------------------------------------------------------------------

  private object InferredFilterLint {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Repartition}
    import graft.functions.{PolyHash64Expr, PolyHashExpr}

    private def heavy(e: Expression): Boolean = e.exists {
      case _: HigherOrderFunction | _: ScalaUDF => true
      case _: PolyHashExpr | _: PolyHash64Expr => true
      case _ => false
    }

    def check(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: Repartition if r.shuffle => r.child.collect {
          case f: Filter if heavy(f.condition) =>
            s"Filter under a round-robin exchange: ${f.condition.sql.take(160)}"
        }
      }.flatten
  }

  // registry-wide, with no allowlist: the shingle chain is where the trap
  // was found, but any explode of a heavy array attribute can set it
  test("plan lint: no shingle-chain Filter beneath a round-robin exchange " +
    "(the inferred-filter rule, mechanized)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        InferredFilterLint.check(fn(spark, sf)).map(v => s"$name: $v")
    }
    assert(failures.isEmpty,
      "explode an array attribute through Dedup.explodeRows:\n" +
        failures.mkString("\n"))
  }

  test("inferred-filter lint is failing-by-construction on the pre-fix d25 " +
    "spelling and green on Dedup.explodeRows") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.ops.Dedup
    val hashed = Dedup.hashedShingles(graft.Tables.documents(spark, sf),
      col("text"), 3, Seq(col("source")))
    // d25's spelling before the fix: a plain explode of the __hs attribute
    val preFix = hashed.select(col("source"), explode(col("__hs")).as("h"))
    assert(InferredFilterLint.check(preFix).nonEmpty,
      "the lint must flag a plain explode of the shingle-hash attribute")
    val postFix = Dedup.explodeRows(hashed, Seq(col("source")), col("__hs"), "h")
    assert(InferredFilterLint.check(postFix).isEmpty,
      "the lint must accept the guarded explode")
  }

  // ---------------------------------------------------------------------
  // The broadcast-cross-join lint — mechanizing the other standing scale
  // rule (until now enforced only by per-round grep): a join with NO
  // equi-key executes as CartesianProduct / BroadcastNestedLoopJoin, and
  // at 100 TB that is only survivable when one side is a KNOWN-small
  // frame that actually broadcasts. Every such join in every registered
  // query must either carry an explicit broadcast hint or have a side
  // whose row bound is statically ≤ 1 (scalar aggregates). Runs on the
  // OPTIMIZED plan so pushed-down/rewritten joins (range-join binning,
  // as-of plans) are judged in their executable shape.
  // ---------------------------------------------------------------------

  private object CrossJoinLint {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._

    private def equiKeyed(j: Join): Boolean = j.condition.exists { c =>
      c.collect {
        case EqualTo(l, r) => (l, r)
        case EqualNullSafe(l, r) => (l, r)
      }.exists { case (l, r) =>
        (l.references.subsetOf(j.left.outputSet) &&
          r.references.subsetOf(j.right.outputSet)) ||
        (r.references.subsetOf(j.left.outputSet) &&
          l.references.subsetOf(j.right.outputSet))
      }
    }

    private def broadcastHinted(j: Join): Boolean =
      j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST))

    /** A side that cannot exceed one row (scalar aggregate / limit 1)
      * broadcasts by construction — no hint needed.
      */
    private def scalarSide(j: Join): Boolean =
      j.left.maxRows.exists(_ <= 1L) || j.right.maxRows.exists(_ <= 1L)

    def violations(plan: LogicalPlan): Seq[String] = plan.collect {
      case j: Join if !equiKeyed(j) && !broadcastHinted(j) && !scalarSide(j) =>
        s"non-equi ${j.joinType} join with no broadcast hint " +
          s"(cond: ${j.condition.map(_.sql).getOrElse("none")})"
    }

    def check(df: org.apache.spark.sql.DataFrame): Seq[String] =
      violations(df.queryExecution.optimizedPlan)
  }

  test("plan lint: every non-equi join broadcasts a known-small side " +
    "(the cross-join rule, mechanized)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        CrossJoinLint.check(fn(spark, sf)).map(v => s"$name: $v")
    }
    assert(failures.isEmpty,
      "non-equi joins without a broadcast side (hint the dimension or " +
        "re-key the join):\n" + failures.mkString("\n"))
  }

  test("cross-join lint is failing-by-construction on an unhinted " +
    "cartesian and green on the hinted spelling") {
    import org.apache.spark.sql.functions.broadcast
    val a = graft.Tables.region(spark, sf)
    val b = graft.Tables.nation(spark, sf)
    assert(CrossJoinLint.check(a.crossJoin(b)).nonEmpty,
      "the lint must flag an unhinted cartesian join")
    assert(CrossJoinLint.check(a.crossJoin(broadcast(b))).isEmpty,
      "the lint must accept the broadcast-hinted spelling")
  }

  // ---------------------------------------------------------------------
  // The typed-operator lint (rule ii): a typed Dataset operation (`map`,
  // `flatMap`, `mapPartitions`, `groupByKey`, a typed `Aggregator`)
  // deserializes every row into a JVM object and serializes it back — a
  // DeserializeToObject, AppendColumns or MapElements node, or a typed
  // aggregate expression, in the analyzed plan — where a Column
  // expression runs codegen'd over the internal rows. The retired
  // TopKAggregator paid exactly that in sk1, sk2, sk5 and a8. The rule:
  // none of them in any registered query outside the allowlist, each
  // entry with its reason. Runs on the ANALYZED plan, so the node is
  // caught however the query spells it.
  // ---------------------------------------------------------------------

  private object TypedOpLint {
    import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, DeserializeToObject, MapElements}
    import org.apache.spark.sql.execution.aggregate.TypedAggregateExpression

    def check(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = df.queryExecution.analyzed
      val nodes = plan.collect {
        case n @ (_: DeserializeToObject | _: AppendColumns | _: MapElements) =>
          n.nodeName
      }
      val aggs = plan.flatMap(_.expressions.flatMap(_.collect {
        case a: TypedAggregateExpression => a.nodeName
      }))
      (nodes ++ aggs).distinct
    }
  }

  test("plan lint: no typed-operator node outside the allowlist " +
    "(rule ii, mechanized)") {
    // deliberate exceptions: JVM-object work no Column expression spells
    val allow: Map[String, String] = Map(
      "hh1_heavy_hitters" -> ("MisraGries.Summary: a bounded 256-entry " +
        "summary merged in any order, one global typed aggregate"),
      "screen_e2e_fixture" -> ("the screen's typed flatMap: slab " +
        "enumeration over Structure lattices (Pipeline stage 2)"),
      "screen_e2e_pourbaix" -> "the screen's typed flatMap, as screen_e2e_fixture",
      "a11_nuclearity" -> "Enumerate.enumerateSlabs over the fixture bulks",
      "u2_geometry_scores" -> "Enumerate.enumerateSlabs over the fixture bulks",
      "u16_invertibility" -> "Enumerate.enumerateSlabs over the fixture bulks",
      "gt5_link_prediction" -> ("TopPairs.runLengthTopK: a stateful run-length " +
        "pass over each partition's sorted packed pairs"),
      "mm1_decode_features" -> ("per-partition decoder singleton " +
        "(mapPartitions, the M2 executor-model pattern)"),
      "s6_traj_energies" -> "binary ULM .traj parse, one typed map per file")
    val found = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> TypedOpLint.check(fn(spark, sf))
    }
    val failures = found.filterNot(q => allow.contains(q._1))
      .flatMap { case (name, nodes) => nodes.map(v => s"$name: $v") }
    assert(failures.isEmpty,
      "typed Dataset operations (spell them as Column expressions or a " +
        "native aggregate):\n" + failures.mkString("\n"))
    val stale = allow.keySet -- found.filter(_._2.nonEmpty).map(_._1)
    assert(stale.isEmpty, s"allowlisted queries with no typed node: $stale")
  }

  test("typed-operator lint is failing-by-construction on the retired typed " +
    "top-k spelling and green on the native aggregate") {
    import org.apache.spark.sql.functions.{col, floor}
    import spark.implicits._
    val du = graft.Tables.events(spark, sf)
      .select(floor(col("ts") / 86400000000000L).as("day"), col("user_id").as("u"))
    // sk1's spelling before the native SmallestKLongsAgg
    val typed = du.as[(Long, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(new RegistrySpec.RetiredSmallestLongs(32).toColumn).toDF("day", "bot")
    assert(TypedOpLint.check(typed).nonEmpty,
      "the lint must flag the typed groupByKey aggregate")
    val native = du.groupBy("day")
      .agg(graft.functions.SmallestKLongsAgg.smallestK(col("u"), 32).as("bot"))
    assert(TypedOpLint.check(native).isEmpty,
      "the lint must accept the native aggregate")
  }

  test("every query is run-to-run deterministic (hash of sorted rows)") {
    def fingerprint(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect().map(_.toString).sorted.mkString("\n").hashCode
    }
    // skip the seeded sample (partitioning-dependent by design)
    val names = SparkEntry.queries.keys.filterNot(_ == "f12_sample_fraction").toSeq.sorted
    val first = names.map(n => n -> fingerprint(n)).toMap
    val diffs = names.filter(n => fingerprint(n) != first(n))
    assert(diffs.isEmpty, s"nondeterministic queries: $diffs")
  }
}

object RegistrySpec {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import org.apache.spark.sql.expressions.Aggregator

  /** The deleted `TopKAggregator.SmallestLongs`, kept as the typed-lint
    * fixture: the k smallest longs of each group, ascending.
    */
  final class RetiredSmallestLongs(k: Int) extends Aggregator[Long, List[Long], Seq[Long]] {
    def zero: List[Long] = Nil
    def reduce(buf: List[Long], a: Long): List[Long] = (a :: buf).sorted.take(k)
    def merge(b1: List[Long], b2: List[Long]): List[Long] = (b1 ++ b2).sorted.take(k)
    def finish(buf: List[Long]): Seq[Long] = buf
    def bufferEncoder: Encoder[List[Long]] = ExpressionEncoder[List[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }
}
