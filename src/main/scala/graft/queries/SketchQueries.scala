package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.StableHash
import graft.functions.SmallestKLongsAgg.smallestK

/** Cardinality / set-overlap sketches with exact calibration readouts —
  * the distinct-counting tier of the sketch family (hh1/hh2 cover
  * frequency). Spark's own `approx_count_distinct` (HLL++) and DuckDB's
  * `approx_count_distinct` are different implementations with different
  * hash functions, so neither can oracle the other; these queries instead
  * implement the sketches PORTABLY on the [[StableHash.polyHash64]] family
  * — every register / minimum is integer arithmetic both engines evaluate
  * identically, so even the *approximation* is hash-gated exactly, and the
  * calibration columns (estimate vs exact, error ppm) are the readout a
  * production pipeline monitors.
  *
  * Scale discipline (the hh2 rule): a sketch query's only data-scale work
  * is ONE keyed aggregate to a BOUNDED cell domain — (day × m registers)
  * for HLL, (day × k minima) for bottom-k — regardless of cardinality.
  * State per group is O(m) / O(k); map-side combine ships cells, not rows.
  *
  * Hash plumbing shared by all three: `polyHash64('u' || user_id)` packs
  * two independent residues (h mod P, h mod P2) into one BIGINT; the pair
  * is split back out and QUADRATICALLY spread, (h² mod p + a·h + b) mod p.
  * The affine-only spread (the StatsQueries/t20 rule) is NOT enough here,
  * measured: sequential ids give near-arithmetic polyHash values (the
  * last char drives ±1 steps), and an affine map of an arithmetic
  * sequence is again arithmetic — mod 256 it becomes a fixed-stride
  * lattice that UNDERFILLS register collisions (121 used / expected 104
  * at D=134), biasing HLL +22%; and raw short-id hashes never wrap mod P
  * (\"u149\" folds to ~3.6e6 ≪ P), so KMV minima sit 250× too low and the
  * estimator reads 2000× high. The h² term makes consecutive inputs'
  * differences 2h+1+a — hp-dependent, no lattice — restoring binomial
  * register fill (HLL err 1.7%, KMV err 3% at D=134, measured).
  */
object SketchQueries extends QueryPack {

  private val DAY_NS = 24L * 3600 * 1000 * 1000 * 1000
  private val DAY_US = DAY_NS / 1000
  // sk7's pair granularity (the streaming twin's): hour index from the
  // nanos ts, hour START in epoch ms like StreamOps.OverlapOut
  private val HOUR_NS = 3600L * 1000 * 1000 * 1000
  private val HOUR_US = HOUR_NS / 1000
  private val HOUR_MS = 3600000L
  private val P = StableHash.P
  private val P2 = StableHash.P2

  // HLL core (register count, rho width, alpha, spread params) lives in
  // [[graft.functions.Hll]] — ONE definition shared with the streaming
  // twin (StreamOps.approxDistinct) and interpolated into the oracle SQL,
  // so batch query, oracle, and stream can never drift apart.
  import graft.functions.Hll.{M, W, SentBit, MaxTerm, Alpha => Alpha256,
    RA => rA, RB => rB, VA => vA, VB => vB}
  /** Bottom-k sizes: sk1's estimator needs the k-th minimum to exist
    * (days with < k distinct users drop out — at sf0.01 every day has
    * ~130 >> 32); sk2's Jaccard resolution is 1/k.
    */
  private val K1 = 32
  private val K2 = 64

  /** Count-min join-size sketch shape (sk3): D independent rows × W cells.
    * Expected collision inflation of the inner product is F1(A)·F1(B)/W per
    * row and the estimate takes the min over D rows, so W trades sketch
    * size (D·W cells ship, never the keys) against overestimate.
    */
  private val JsW = 8192
  private val JsD = 4

  /** AMS tug-of-war estimators (sk4): F2D = F2G groups × F2K independent
    * X² per group, the textbook median-of-means — the group MEAN cuts
    * variance ×F2K, the median over F2G groups (odd, so rank (F2G+1)/2 is
    * one exact cell) kills outlier groups. The mean's divide is deferred:
    * the median is taken over exact scaled group SUMS, and the single
    * `div F2K` happens after — everything integer until the ppm floor.
    */
  private val F2G = 9
  private val F2K = 5
  private val F2D = F2G * F2K

  /** Two quadratically-spread residues (q1 mod P, q2 mod P2) of a packed
    * polyHash64 column — the lattice-free uniformizer every sketch here
    * derives registers / cells / signs from (see the object scaladoc for
    * the measured affine-only failure). Shared by the event-user spread
    * and the sk3 key spread.
    */
  private def spreadCols(h: Column): (Column, Column) = {
    // h = packed polyHash64 ≥ 0, so DIV 2^31 = shiftright and % keeps sign
    val hp = shiftright(h, 31)
    val hp2 = h % 2147483648L
    ((hp * hp % P + lit(rA) * hp + lit(rB)) % P,
      (hp2 * hp2 % P2 + lit(vA) * hp2 + lit(vB)) % P2)
  }

  /** (day, q1, q2): the two quadratically-spread residues of each event's
    * user hash. hp = h div 2^31 ∈ [0,P), hp2 = h mod 2^31 ∈ [0,P2); the
    * spread keeps every intermediate < 2·10^18 (h² mod p ≤ 10^9·10^9
    * reduced first, then one a·h product ≤ 10^18) — BIGINT-safe on both
    * engines.
    */
  private def spread(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      expr(s"ts DIV $DAY_NS").as("day"),
      StableHash.polyHash64(concat(lit("u"), col("user_id").cast("string")))
        .as("h"))
      .select(col("day"),
        expr("h DIV 2147483648").as("hp"), expr("h % 2147483648").as("hp2"))
      .select(col("day"),
        expr(s"(hp * hp % $P + $rA * hp + $rB) % $P").as("q1"),
        expr(s"(hp2 * hp2 % $P2 + $vA * hp2 + $vB) % $P2").as("q2"))

  private def spreadSql: String =
    s"""SELECT day,
               (hp * hp % $P + $rA * hp + $rB) % $P AS q1,
               (hp2 * hp2 % $P2 + $vA * hp2 + $vB) % $P2 AS q2
        FROM (SELECT epoch_us(ts) // $DAY_US AS day,
                     h // 2147483648 AS hp, h % 2147483648 AS hp2
              FROM (SELECT ts,
                      ${StableHash.polyHash64Sql("('u' || CAST(user_id AS VARCHAR))")} AS h
                    FROM events))"""

  /** Uniformized 60-bit point u = q1·P2 + q2 ∈ [0, P·P2), uniform because
    * (q1, q2) → u is a bijection of the residue pair onto a dense range —
    * unlike the packed `polyHash64` value itself, whose 2^31 blocks are
    * only [0,P2)-filled, so rank statistics (KMV) on it would be biased.
    */
  private def uniformPoints(s: SparkSession, d: String): DataFrame =
    spread(s, d).select(col("day"),
      (col("q1") * lit(P2) + col("q2")).as("u")).distinct()

  private def uniformSql: String =
    s"""SELECT DISTINCT day, q1 * $P2 + q2 AS u FROM ($spreadSql)"""

  /** The exact double expression both engines evaluate for the KMV
    * estimator (k−1)·|domain| / u_k — all factors exact-in-double or one
    * correctly-rounded op, identical association on both sides.
    */
  private def kmvEstCol(uk: String) =
    lit((K1 - 1).toDouble) * lit(P.toDouble) * lit(P2.toDouble) /
      col(uk).cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Portable HyperLogLog, per-day distinct users, calibrated against the
    // exact count. Register j = affine(hp) mod 256; rho = 1 + trailing
    // zeros of affine(hp2)'s low 20 bits, computed WITHOUT log2 (length of
    // bin(lowest set bit) — log2(2^k) is not guaranteed exactly k on
    // either engine's libm, bin() is integer-exact on both). The scaled
    // harmonic sum Σ 2^(21−rho_j) stays integral, so the only double ops
    // are the final alpha·m²·2^21/S divide and — in the small-range regime
    // raw ≤ 2.5m with empty registers — linear counting m·(ln m − ln V),
    // ln of exact ints (the t19 rule; here it is intrinsic to the
    // algorithm, not a constant to precompute: V is data-dependent).
    "hll1_distinct_calibration" -> ((s, d) => {
      val reg = spread(s, d).select(col("day"),
          expr(s"q1 % $M").as("reg"),
          expr(s"q2 % $SentBit + $SentBit").as("vv"))
        .withColumn("rho", length(bin(expr("vv & -vv"))))
        .groupBy("day", "reg").agg(max(col("rho")).as("mr"))
      val cells = reg.groupBy("day").agg(
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mr)")).as("sp"),
          count(lit(1)).as("used"))
        .select(col("day"), col("used"),
          (lit(M.toLong) - col("used")).as("zeros"),
          (col("sp") + (lit(M.toLong) - col("used")) * lit(MaxTerm))
            .as("ssum"))
      val exact = Tables.events(s, d)
        .select(expr(s"ts DIV $DAY_NS").as("day"), col("user_id"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("n_exact"))
      cells.join(exact, "day")
        .withColumn("raw_est",
          lit(Alpha256) * lit((M.toLong * M).toDouble) * lit(MaxTerm.toDouble)
            / col("ssum").cast("double"))
        .withColumn("est",
          when(col("zeros") > 0 && col("raw_est") <= lit(2.5 * M),
            lit(M.toDouble) *
              (log(lit(M.toDouble)) - log(col("zeros").cast("double"))))
          .otherwise(col("raw_est")))
        .withColumn("err_ppm",
          floor(lit(1000000.0) * abs(col("est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double")).cast("bigint"))
        .select("day", "n_exact", "used", "zeros", "est", "err_ppm")
        .orderBy("day")
    }),

    // Bottom-k (KMV) distinct estimator, per day: the k-th smallest of the
    // uniformized user hashes estimates D ≈ (k−1)·|domain|/u_k. The k
    // minima ride a hard-O(k) SmallestKLongsAgg buffer (gt5's neighborhood
    // cap) — map-side combine ships ≤k values per (day, partition); the
    // row_number window spelling would sort every day's rows. Days with
    // fewer than k distinct users have no k-th minimum and drop out (none
    // at sf≥0.01).
    "sk1_bottomk_distinct" -> ((s, d) => {
      val du = uniformPoints(s, d)
      val kth = du.groupBy("day").agg(smallestK(col("u"), K1).as("bot"))
        .filter(size(col("bot")) === K1)
        .select(col("day"), element_at(col("bot"), K1).as("uk"))
      val exact = du.groupBy("day").agg(count(lit(1)).as("n_exact"))
      kth.join(exact, "day")
        .withColumn("est", kmvEstCol("uk"))
        .withColumn("err_ppm",
          floor(lit(1000000.0) * abs(col("est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double")).cast("bigint"))
        .select("day", "n_exact", "uk", "est", "err_ppm")
        .orderBy("day")
    }),

    // K-minimum-values Jaccard between consecutive days' user sets,
    // calibrated against the exact overlap — the streaming-friendly "how
    // similar is today's audience to yesterday's" readout. The k smallest
    // hashes of the UNION form an unbiased sample of it; the fraction
    // also present in both sides estimates J. Flags ride the minima by
    // encoding (u·4 + in_a·2 + in_b) into one long — same order as u, so
    // the smallest-k aggregate needs no second pass — and every output
    // column is an integer ppm: the whole query is exact-arithmetic end to
    // end.
    "sk2_bottomk_jaccard" -> ((s, d) => {
      val du = uniformPoints(s, d)
      val days = du.select("day").distinct()
      val valid = days.select(col("day").as("p"))
        .join(days.select((col("day") - 1).as("p")), Seq("p"))
      val uni = du.select(col("day").as("p"), col("u"),
          lit(1L).as("a"), lit(0L).as("b"))
        .unionAll(du.select((col("day") - 1).as("p"), col("u"),
          lit(0L).as("a"), lit(1L).as("b")))
        .join(valid, Seq("p"))
        .groupBy("p", "u").agg(max(col("a")).as("a"), max(col("b")).as("b"))
      val exact = uni.groupBy("p").agg(count(lit(1)).as("n_union"),
        sum(col("a") * col("b")).as("n_inter"))
      val kmv = uni.groupBy("p")
        .agg(smallestK(col("u") * 4 + col("a") * 2 + col("b"), K2).as("bot"))
        .select(col("p"), size(col("bot")).cast("bigint").as("k_used"),
          expr("CAST(size(filter(bot, x -> x % 4 = 3)) AS BIGINT)")
            .as("both_in_k"))
      exact.join(kmv, "p")
        .select(col("p").as("day_a"), (col("p") + 1).as("day_b"),
          col("n_union"), col("n_inter"),
          expr("(1000000 * n_inter) div n_union").as("j_exact_ppm"),
          col("k_used"), col("both_in_k"),
          expr("(1000000 * both_in_k) div k_used").as("j_est_ppm"))
        .orderBy("day_a")
    }),

    // HLL set-INTERSECTION estimate by inclusion-exclusion — completing
    // the sketch set algebra (union = hll2's register merge, difference =
    // sk5's bottom-k, intersection = estA + estB − estU here) between
    // consecutive days' user sets. The honest readout: I-E on sketches
    // compounds three estimators' errors, so relative error blows up as
    // the true intersection shrinks — the calibration column SHOWS it,
    // which is exactly why production set-overlap goes to KMV/theta
    // sketches (sk2) when intersections are small. Scale shape: three
    // register tiers (a/b/union) fold in ONE (pair, tier, reg)-keyed
    // aggregate over bounded cells; exact overlap rides from the sk2
    // union construction.
    "sk6_hll_intersection" -> ((s, d) => {
      val regs = spread(s, d).select(col("day"),
          expr(s"q1 % $M").as("reg"),
          expr(s"q2 % $SentBit + $SentBit").as("vv"))
        .withColumn("rho", length(bin(expr("vv & -vv"))))
        .groupBy("day", "reg").agg(max(col("rho")).as("mr"))
      val days = regs.select("day").distinct()
      val valid = days.select(col("day").as("p"))
        .join(days.select((col("day") - 1).as("p")), Seq("p"))
      val a = regs.select(col("day").as("p"), col("reg"), col("mr"))
        .join(broadcast(valid), Seq("p"))
      val b = regs.select((col("day") - 1).as("p"), col("reg"), col("mr"))
        .join(broadcast(valid), Seq("p"))
      val tagged = a.select(col("p"), lit("a").as("tier"), col("reg"), col("mr"))
        .unionAll(b.select(col("p"), lit("b").as("tier"), col("reg"), col("mr")))
        .unionAll(a.select(col("p"), col("reg"), col("mr"))
          .unionAll(b.select(col("p"), col("reg"), col("mr")))
          .groupBy("p", "reg").agg(max(col("mr")).as("mr"))
          .select(col("p"), lit("u").as("tier"), col("reg"), col("mr")))
      val est = tagged.groupBy("p", "tier").agg(
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mr)")).as("sp"),
          count(lit(1)).as("used"))
        .select(col("p"), col("tier"),
          (lit(M.toLong) - col("used")).as("zeros"),
          (col("sp") + (lit(M.toLong) - col("used")) * lit(MaxTerm))
            .as("ssum"))
        .withColumn("raw_est",
          lit(Alpha256) * lit((M.toLong * M).toDouble) * lit(MaxTerm.toDouble)
            / col("ssum").cast("double"))
        .withColumn("est",
          when(col("zeros") > 0 && col("raw_est") <= lit(2.5 * M),
            lit(M.toDouble) *
              (log(lit(M.toDouble)) - log(col("zeros").cast("double"))))
          .otherwise(col("raw_est")))
      def tier(t: String, out: String) =
        est.filter(col("tier") === t).select(col("p"), col("est").as(out))
      val du = uniformPoints(s, d)
      val exact = du.select(col("day").as("p"), col("u"),
          lit(1L).as("a"), lit(0L).as("b"))
        .unionAll(du.select((col("day") - 1).as("p"), col("u"),
          lit(0L).as("a"), lit(1L).as("b")))
        .join(valid, Seq("p"))
        .groupBy("p", "u").agg(max(col("a")).as("a"), max(col("b")).as("b"))
        .groupBy("p").agg(sum(col("a") * col("b")).as("n_inter_exact"))
      exact.join(tier("a", "est_a"), "p").join(tier("b", "est_b"), "p")
        .join(tier("u", "est_u"), "p")
        .withColumn("est_inter", col("est_a") + col("est_b") - col("est_u"))
        .withColumn("err_ppm",
          when(col("n_inter_exact") > 0,
            floor(lit(1000000.0)
              * abs(col("est_inter") - col("n_inter_exact").cast("double"))
              / col("n_inter_exact").cast("double")).cast("bigint")))
        .select(col("p").as("day_a"), (col("p") + 1).as("day_b"),
          col("n_inter_exact"), col("est_inter"), col("err_ppm"))
        .orderBy("day_a")
    }),

    // The batch gate for the STREAMING HLL set algebra
    // ([[graft.streaming.StreamOps.approxOverlap]]): the identical
    // pair/union/intersection/new-users readout between consecutive
    // HOURS, from the events table, computed with the same
    // [[graft.functions.Hll]] register/rho/estimator core the stream
    // folds in state — polyHash64("u"+user_id) → regCol/rhoCol → max-rho
    // registers → union-by-register-max → I-E intersection → difference.
    // The DuckDB oracle therefore pins the streaming estimator END TO
    // END (the stream's spec separately pins register-level equality to
    // this core on hand-built batches; the sk6 day-level query pins the
    // same algebra on a different hash derivation). Output row shape =
    // StreamOps.OverlapOut, one row per consecutive-hour pair where both
    // hours have events. Scale shape: ONE (hour, reg)-keyed aggregate to
    // bounded cells, then algebra over ≤ 3·256 cells per pair.
    "sk7_hourly_overlap" -> ((s, d) => {
      import graft.functions.Hll
      val h = StableHash.polyHash64(
        concat(lit("u"), col("user_id").cast("string")))
      val regs = Tables.events(s, d)
        .select((expr(s"ts div $HOUR_NS") * HOUR_MS).as("hour_ms"),
          Hll.regCol(h).as("reg"), Hll.rhoCol(h).as("rho"))
        .groupBy("hour_ms", "reg").agg(max(col("rho")).as("mr"))
      val hours = regs.select("hour_ms").distinct()
      val valid = hours.select(col("hour_ms").as("p"))
        .join(hours.select((col("hour_ms") - HOUR_MS).as("p")), Seq("p"))
      val a = regs.select(col("hour_ms").as("p"), col("reg"), col("mr"))
        .join(broadcast(valid), Seq("p"))
      val b = regs
        .select((col("hour_ms") - HOUR_MS).as("p"), col("reg"), col("mr"))
        .join(broadcast(valid), Seq("p"))
      val tagged = a
        .select(col("p"), lit("a").as("tier"), col("reg"), col("mr"))
        .unionAll(b.select(col("p"), lit("b").as("tier"), col("reg"),
          col("mr")))
        .unionAll(a.select(col("p"), col("reg"), col("mr"))
          .unionAll(b.select(col("p"), col("reg"), col("mr")))
          .groupBy("p", "reg").agg(max(col("mr")).as("mr"))
          .select(col("p"), lit("u").as("tier"), col("reg"), col("mr")))
      val est = tagged.groupBy("p", "tier").agg(
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mr)")).as("sp"),
          count(lit(1)).as("used"))
        .select(col("p"), col("tier"),
          (lit(M.toLong) - col("used")).as("zeros"),
          (col("sp") + (lit(M.toLong) - col("used")) * lit(MaxTerm))
            .as("ssum"))
        .withColumn("raw_est",
          lit(Alpha256) * lit((M.toLong * M).toDouble) * lit(MaxTerm.toDouble)
            / col("ssum").cast("double"))
        .withColumn("est",
          when(col("zeros") > 0 && col("raw_est") <= lit(2.5 * M),
            lit(M.toDouble) *
              (log(lit(M.toDouble)) - log(col("zeros").cast("double"))))
          .otherwise(col("raw_est")))
      def tier(t: String, out: String) =
        est.filter(col("tier") === t).select(col("p"), col("est").as(out))
      tier("a", "est_a").join(tier("b", "est_b"), "p")
        .join(tier("u", "est_union"), "p")
        .select(col("p").as("hour_a_ms"),
          (col("p") + HOUR_MS).as("hour_b_ms"),
          col("est_a"), col("est_b"), col("est_union"),
          (col("est_a") + col("est_b") - col("est_union")).as("est_inter"),
          (col("est_union") - col("est_a")).as("est_new"))
        .orderBy("hour_a_ms")
    }),

    // KMV set-DIFFERENCE estimate — the growth-accounting readout ("how
    // many of today's users are NEW?") from the same bottom-k union
    // sample as sk2: the k smallest union hashes are an unbiased sample,
    // so (b-only fraction in the sample) × (union KMV estimate) estimates
    // |B \ A| without materializing either membership set. Flags ride the
    // minima in the low two bits (order-preserving ×4 encode; u recovers
    // exactly by div 4). Exact |B \ A| rides along as calibration; days
    // with an incomplete sample (< k union hashes) drop out, and a zero
    // exact count yields a NULL err_ppm rather than a divide.
    "sk5_bottomk_new_users" -> ((s, d) => {
      val du = uniformPoints(s, d)
      val days = du.select("day").distinct()
      val valid = days.select(col("day").as("p"))
        .join(days.select((col("day") - 1).as("p")), Seq("p"))
      val uni = du.select(col("day").as("p"), col("u"),
          lit(1L).as("a"), lit(0L).as("b"))
        .unionAll(du.select((col("day") - 1).as("p"), col("u"),
          lit(0L).as("a"), lit(1L).as("b")))
        .join(valid, Seq("p"))
        .groupBy("p", "u").agg(max(col("a")).as("a"), max(col("b")).as("b"))
      val exact = uni.groupBy("p").agg(
        sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L))
          .as("n_new_exact"))
      val kmv = uni.groupBy("p")
        .agg(smallestK(col("u") * 4 + col("a") * 2 + col("b"), K2).as("bot"))
        .filter(size(col("bot")) === K2)
        .select(col("p"),
          expr(s"element_at(bot, $K2) div 4").as("uk"),
          expr("CAST(size(filter(bot, x -> x % 4 = 1)) AS BIGINT)")
            .as("b_only_in_k"))
      exact.join(kmv, "p")
        .withColumn("est_new",
          lit((K2 - 1).toDouble) * lit(P.toDouble) * lit(P2.toDouble)
            / col("uk").cast("double")
            * col("b_only_in_k").cast("double") / lit(K2.toDouble))
        .withColumn("err_ppm",
          when(col("n_new_exact") > 0,
            floor(lit(1000000.0)
              * abs(col("est_new") - col("n_new_exact").cast("double"))
              / col("n_new_exact").cast("double")).cast("bigint")))
        .select(col("p").as("day_a"), (col("p") + 1).as("day_b"),
          col("n_new_exact"), col("b_only_in_k"), col("est_new"),
          col("err_ppm"))
        .orderBy("day_a")
    }),

    // Count-min join-size estimation — the optimizer's question ("how big
    // would lineitem⋈lineitem on l_partkey across the ship-date split
    // be?") answered WITHOUT running the join: |A⋈B| = Σ_k fA(k)·fB(k)
    // is the inner product of the two frequency vectors, and the classic
    // sketch estimate is min over D rows of Σ_cells cmA·cmB (always ≥
    // exact: collisions only add). Scale shape: each side's only
    // data-scale work is ONE keyed count aggregate; the sketches are
    // (r, cell)-keyed frames bounded at D·W = 32k cells REGARDLESS of key
    // cardinality — at 100 TB the sketch join ships kilobytes where the
    // exact count-table join ships every distinct key. The exact inner
    // product rides along as the calibration column (it too never runs
    // the row-level join). All arithmetic integer; err_ppm ≥ 0 by
    // construction.
    "sk3_cm_join_size" -> ((s, d) => {
      val params = StableHash.affineParams(JsD)
      val cnt = Tables.lineitem(s, d)
        .select(col("l_partkey").as("k"),
          (col("l_shipdate") < lit("1998-07-01").cast("timestamp")).as("ina"))
        .groupBy("k", "ina").agg(count(lit(1)).as("cnt"))
      val exact = cnt.filter(col("ina")).select(col("k"), col("cnt").as("ca"))
        .join(cnt.filter(!col("ina")).select(col("k"), col("cnt").as("cb")),
          Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("n_exact"))
      val (q1, q2) = spreadCols(
        StableHash.polyHash64(concat(lit("p"), col("k").cast("string"))))
      val cellArr = array(params.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i).as("r"),
          ((lit(a) * col("q1") + lit(b) * col("q2")) % P % JsW).as("cell"))
      }: _*)
      val cells = cnt.select(col("ina"), col("cnt"),
          q1.as("q1"), q2.as("q2"))
        .select(col("ina"), col("cnt"), explode(cellArr).as("rc"))
        .groupBy(col("ina"), col("rc.r").as("r"), col("rc.cell").as("cell"))
        .agg(sum("cnt").as("m"))
      val ip = cells.filter(col("ina"))
        .select(col("r"), col("cell"), col("m").as("ma"))
        .join(cells.filter(!col("ina"))
          .select(col("r"), col("cell"), col("m").as("mb")), Seq("r", "cell"))
        .groupBy("r").agg(sum(col("ma") * col("mb")).as("ip"))
      ip.crossJoin(broadcast(ip.agg(min(col("ip")).as("cm_est"))))
        .crossJoin(broadcast(exact))
        .select(col("r"), col("ip"), col("cm_est"), col("n_exact"),
          expr("(1000000 * (cm_est - n_exact)) div n_exact").as("err_ppm"))
        .orderBy("r")
    }),

    // AMS "tug-of-war" second-moment sketch, per day: F2 = Σ_u cnt(u)² is
    // the self-join size on user_id — the quantity a skew-aware planner
    // needs before it picks a join strategy. Each estimator X_r =
    // Σ_u sign_r(u)·cnt(u) folds the whole day into ONE integer
    // (E[X²] = F2); the estimate is the median-of-means over F2G groups
    // of F2K estimators, taken on exact scaled group sums (the ÷F2K is
    // ONE deferred integer div) — no interpolation, no doubles anywhere
    // before the final ppm floor. Scale shape: one (day, user) count
    // aggregate, then a 15-way bounded fan-out to (day, r) cells; the
    // rank window orders exactly F2G rows per day.
    "sk4_ams_f2" -> ((s, d) => {
      val params = StableHash.affineParams(F2D)
      val dayUser = Tables.events(s, d)
        .select(expr(s"ts DIV $DAY_NS").as("day"), col("user_id"))
        .groupBy("day", "user_id").agg(count(lit(1)).as("cnt"))
      val (q1, q2) = spreadCols(StableHash.polyHash64(
        concat(lit("u"), col("user_id").cast("string"))))
      val signArr = array(params.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i).as("r"),
          (lit(1L) - lit(2L) * ((lit(a) * col("q1") + lit(b) * col("q2"))
            % P % 2)).as("sg"))
      }: _*)
      val x = dayUser.select(col("day"), col("cnt"),
          q1.as("q1"), q2.as("q2"))
        .select(col("day"), col("cnt"), explode(signArr).as("rs"))
        .groupBy(col("day"), col("rs.r").as("r"))
        .agg(sum(col("rs.sg") * col("cnt")).as("x"))
        .select(col("day"), (col("r") % F2G).as("g"),
          (col("x") * col("x")).as("x2"))
        .groupBy("day", "g").agg(sum(col("x2")).as("gs"))
      val med = x.withColumn("rn", row_number().over(
          Window.partitionBy("day").orderBy(col("gs"), col("g"))))
        .filter(col("rn") === (F2G + 1) / 2)
        .select(col("day"), expr(s"gs div $F2K").as("f2_est"))
      val exact = dayUser.groupBy("day")
        .agg(sum(col("cnt") * col("cnt")).as("f2_exact"))
      exact.join(med, "day")
        .select(col("day"), col("f2_exact"), col("f2_est"),
          expr("(1000000 * abs(f2_est - f2_exact)) div f2_exact")
            .as("err_ppm"))
        .orderBy("day")
    }),

    // Trailing-7-day rolling distinct users via HLL register merge — the
    // property that makes the sketch THE 100-TB answer: registers are
    // max-mergeable, so the rolling estimate reuses hll1's per-day
    // register table (256 cells/day) and never re-touches events. The
    // window mapping is an exploded offset join on the data-bounded day
    // calendar (≤ 7·|days| rows, all-equi); the exact rolling distinct
    // rides along as calibration (its 7× distinct-pair blowup is exactly
    // the cost the sketch path avoids). Estimator spelling is hll1's,
    // bit-identical literals and association.
    "hll2_rolling_distinct" -> ((s, d) => {
      val dayReg = spread(s, d).select(col("day"),
          expr(s"q1 % $M").as("reg"),
          expr(s"q2 % $SentBit + $SentBit").as("vv"))
        .withColumn("rho", length(bin(expr("vv & -vv"))))
        .groupBy("day", "reg").agg(max(col("rho")).as("mr"))
      val days = dayReg.select("day").distinct()
      val map = days
        .select(col("day"), explode(sequence(lit(0L), lit(6L))).as("off"))
        .select((col("day") + col("off")).as("t"), col("day"))
        .join(days.select(col("day").as("t")), Seq("t"))
      val cells = dayReg.join(broadcast(map), Seq("day"))
        .groupBy(col("t"), col("reg")).agg(max(col("mr")).as("mr"))
        .groupBy("t").agg(
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${W + 1} - mr)")).as("sp"),
          count(lit(1)).as("used"))
        .select(col("t"), col("used"),
          (lit(M.toLong) - col("used")).as("zeros"),
          (col("sp") + (lit(M.toLong) - col("used")) * lit(MaxTerm))
            .as("ssum"))
      val daysMerged = map.groupBy("t").agg(count(lit(1)).as("days_merged"))
      val exact = Tables.events(s, d)
        .select(expr(s"ts DIV $DAY_NS").as("day"), col("user_id")).distinct()
        .join(broadcast(map), Seq("day"))
        .groupBy("t").agg(countDistinct(col("user_id")).as("n_exact"))
      cells.join(exact, "t").join(broadcast(daysMerged), Seq("t"))
        .withColumn("raw_est",
          lit(Alpha256) * lit((M.toLong * M).toDouble) * lit(MaxTerm.toDouble)
            / col("ssum").cast("double"))
        .withColumn("est",
          when(col("zeros") > 0 && col("raw_est") <= lit(2.5 * M),
            lit(M.toDouble) *
              (log(lit(M.toDouble)) - log(col("zeros").cast("double"))))
          .otherwise(col("raw_est")))
        .withColumn("err_ppm",
          floor(lit(1000000.0) * abs(col("est") - col("n_exact").cast("double"))
            / col("n_exact").cast("double")).cast("bigint"))
        .select(col("t").as("day"), col("days_merged"), col("n_exact"),
          col("used"), col("zeros"), col("est"), col("err_ppm"))
        .orderBy("day")
    }))

  val oracles: Map[String, String] = Map(
    "hll1_distinct_calibration" ->
      s"""WITH res AS ($spreadSql),
          vv AS (SELECT day, q1 % $M AS reg,
                        q2 % $SentBit + $SentBit AS vv
                 FROM res),
          regs AS (SELECT day, reg,
                          CAST(max(length(bin(vv & -vv))) AS INT) AS mr
                   FROM vv GROUP BY day, reg),
          cells AS (SELECT day,
                           CAST(sum(CAST(1 AS BIGINT) << (${W + 1} - mr))
                             AS BIGINT) AS sp,
                           CAST(count(*) AS BIGINT) AS used
                    FROM regs GROUP BY day),
          st AS (SELECT day, used, $M - used AS zeros,
                        sp + ($M - used) * $MaxTerm AS ssum
                 FROM cells),
          ex AS (SELECT epoch_us(ts) // $DAY_US AS day,
                        CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
                 FROM events GROUP BY 1),
          est AS (SELECT day, n_exact, used, zeros,
                         CAST($Alpha256 AS DOUBLE) * CAST(${M.toLong * M} AS DOUBLE)
                           * CAST($MaxTerm AS DOUBLE) / CAST(ssum AS DOUBLE)
                           AS raw_est
                  FROM st JOIN ex USING (day)),
          fin AS (SELECT day, n_exact, used, zeros,
                         CASE WHEN zeros > 0 AND raw_est <= ${2.5 * M}
                              THEN CAST($M AS DOUBLE)
                                   * (ln(CAST($M AS DOUBLE))
                                      - ln(CAST(zeros AS DOUBLE)))
                              ELSE raw_est END AS est
                  FROM est)
          SELECT day, n_exact, used, zeros, est,
                 CAST(floor(CAST(1000000 AS DOUBLE)
                        * abs(est - CAST(n_exact AS DOUBLE))
                        / CAST(n_exact AS DOUBLE)) AS BIGINT) AS err_ppm
          FROM fin ORDER BY day""",

    "sk1_bottomk_distinct" ->
      s"""WITH du AS ($uniformSql),
          rk AS (SELECT day, u,
                        row_number() OVER (PARTITION BY day ORDER BY u) AS rn
                 FROM du),
          kth AS (SELECT day, u AS uk FROM rk WHERE rn = $K1),
          ex AS (SELECT day, CAST(count(*) AS BIGINT) AS n_exact
                 FROM du GROUP BY day),
          est AS (SELECT day, n_exact, uk,
                         CAST(${K1 - 1} AS DOUBLE) * CAST($P AS DOUBLE)
                           * CAST($P2 AS DOUBLE) / CAST(uk AS DOUBLE) AS est
                  FROM kth JOIN ex USING (day))
          SELECT day, n_exact, uk, est,
                 CAST(floor(CAST(1000000 AS DOUBLE)
                        * abs(est - CAST(n_exact AS DOUBLE))
                        / CAST(n_exact AS DOUBLE)) AS BIGINT) AS err_ppm
          FROM est ORDER BY day""",

    "sk2_bottomk_jaccard" ->
      s"""WITH du AS ($uniformSql),
          days AS (SELECT DISTINCT day FROM du),
          valid AS (SELECT d1.day AS p FROM days d1
                    JOIN days d2 ON d2.day = d1.day + 1),
          pairs AS (SELECT day AS p, u, 1 AS a, 0 AS b FROM du
                    UNION ALL
                    SELECT day - 1 AS p, u, 0 AS a, 1 AS b FROM du),
          uni AS (SELECT p, u, CAST(max(a) AS BIGINT) AS a,
                         CAST(max(b) AS BIGINT) AS b
                  FROM pairs JOIN valid USING (p) GROUP BY p, u),
          ex AS (SELECT p, CAST(count(*) AS BIGINT) AS n_union,
                        CAST(sum(a * b) AS BIGINT) AS n_inter
                 FROM uni GROUP BY p),
          rk AS (SELECT p, a, b,
                        row_number() OVER (PARTITION BY p ORDER BY u) AS rn
                 FROM uni),
          kb AS (SELECT p, CAST(count(*) AS BIGINT) AS k_used,
                        CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS both_in_k
                 FROM rk WHERE rn <= $K2 GROUP BY p)
          SELECT p AS day_a, p + 1 AS day_b, n_union, n_inter,
                 (1000000 * n_inter) // n_union AS j_exact_ppm,
                 k_used, both_in_k,
                 (1000000 * both_in_k) // k_used AS j_est_ppm
          FROM ex JOIN kb USING (p) ORDER BY day_a""",

    "sk6_hll_intersection" ->
      s"""WITH res AS ($spreadSql),
          vv AS (SELECT day, q1 % $M AS reg,
                        q2 % $SentBit + $SentBit AS vv
                 FROM res),
          regs AS (SELECT day, reg,
                          CAST(max(length(bin(vv & -vv))) AS INT) AS mr
                   FROM vv GROUP BY day, reg),
          days AS (SELECT DISTINCT day FROM regs),
          valid AS (SELECT d1.day AS p FROM days d1
                    JOIN days d2 ON d2.day = d1.day + 1),
          a AS (SELECT r.day AS p, reg, mr
                FROM regs r JOIN valid v ON v.p = r.day),
          b AS (SELECT r.day - 1 AS p, reg, mr
                FROM regs r JOIN valid v ON v.p = r.day - 1),
          uu AS (SELECT p, reg, max(mr) AS mr
                 FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
                 GROUP BY p, reg),
          tg AS (SELECT p, 'a' AS tier, reg, mr FROM a
                 UNION ALL SELECT p, 'b', reg, mr FROM b
                 UNION ALL SELECT p, 'u', reg, mr FROM uu),
          cells AS (SELECT p, tier,
                           CAST(sum(CAST(1 AS BIGINT) << (${W + 1} - mr))
                             AS BIGINT) AS sp,
                           CAST(count(*) AS BIGINT) AS used
                    FROM tg GROUP BY p, tier),
          stt AS (SELECT p, tier, $M - used AS zeros,
                         sp + ($M - used) * $MaxTerm AS ssum
                  FROM cells),
          pe AS (SELECT p, tier, zeros,
                        CAST($Alpha256 AS DOUBLE)
                          * CAST(${M.toLong * M} AS DOUBLE)
                          * CAST($MaxTerm AS DOUBLE) / CAST(ssum AS DOUBLE)
                          AS raw_est
                 FROM stt),
          fe AS (SELECT p, tier,
                        CASE WHEN zeros > 0 AND raw_est <= ${2.5 * M}
                             THEN CAST($M AS DOUBLE)
                                  * (ln(CAST($M AS DOUBLE))
                                     - ln(CAST(zeros AS DOUBLE)))
                             ELSE raw_est END AS est
                 FROM pe),
          du AS ($uniformSql),
          pairs AS (SELECT day AS p, u, 1 AS a, 0 AS b FROM du
                    UNION ALL
                    SELECT day - 1 AS p, u, 0 AS a, 1 AS b FROM du),
          uni AS (SELECT p, u, CAST(max(a) AS BIGINT) AS a,
                         CAST(max(b) AS BIGINT) AS b
                  FROM pairs JOIN valid USING (p) GROUP BY p, u),
          ex AS (SELECT p, CAST(sum(a * b) AS BIGINT) AS n_inter_exact
                 FROM uni GROUP BY p),
          fin AS (SELECT ex.p, n_inter_exact,
                         ea.est + eb.est - eu.est AS est_inter
                  FROM ex
                  JOIN (SELECT p, est FROM fe WHERE tier = 'a') ea
                    ON ea.p = ex.p
                  JOIN (SELECT p, est FROM fe WHERE tier = 'b') eb
                    ON eb.p = ex.p
                  JOIN (SELECT p, est FROM fe WHERE tier = 'u') eu
                    ON eu.p = ex.p)
          SELECT p AS day_a, p + 1 AS day_b, n_inter_exact, est_inter,
                 CASE WHEN n_inter_exact > 0
                      THEN CAST(floor(CAST(1000000 AS DOUBLE)
                             * abs(est_inter - CAST(n_inter_exact AS DOUBLE))
                             / CAST(n_inter_exact AS DOUBLE)) AS BIGINT)
                 END AS err_ppm
          FROM fin ORDER BY day_a""",

    "sk7_hourly_overlap" -> {
      val ph = StableHash.polyHash64Sql("('u' || CAST(user_id AS VARCHAR))")
      s"""WITH hr AS (SELECT hour_ms, h // 2147483648 AS hp,
                             h % 2147483648 AS hp2
                      FROM (SELECT (epoch_us(ts) // $HOUR_US) * $HOUR_MS
                                     AS hour_ms,
                                   $ph AS h
                            FROM events)),
          rr AS (SELECT hour_ms,
                        (hp * hp % $P + $rA * hp + $rB) % $P % $M AS reg,
                        (hp2 * hp2 % $P2 + $vA * hp2 + $vB) % $P2
                          % $SentBit + $SentBit AS vv
                 FROM hr),
          regs AS (SELECT hour_ms, reg,
                          CAST(max(length(bin(vv & -vv))) AS INT) AS mr
                   FROM rr GROUP BY hour_ms, reg),
          hours AS (SELECT DISTINCT hour_ms FROM regs),
          valid AS (SELECT h1.hour_ms AS p FROM hours h1
                    JOIN hours h2 ON h2.hour_ms = h1.hour_ms + $HOUR_MS),
          a AS (SELECT r.hour_ms AS p, reg, mr
                FROM regs r JOIN valid v ON v.p = r.hour_ms),
          b AS (SELECT r.hour_ms - $HOUR_MS AS p, reg, mr
                FROM regs r JOIN valid v ON v.p = r.hour_ms - $HOUR_MS),
          uu AS (SELECT p, reg, max(mr) AS mr
                 FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
                 GROUP BY p, reg),
          tg AS (SELECT p, 'a' AS tier, reg, mr FROM a
                 UNION ALL SELECT p, 'b', reg, mr FROM b
                 UNION ALL SELECT p, 'u', reg, mr FROM uu),
          cells AS (SELECT p, tier,
                           CAST(sum(CAST(1 AS BIGINT) << (${W + 1} - mr))
                             AS BIGINT) AS sp,
                           CAST(count(*) AS BIGINT) AS used
                    FROM tg GROUP BY p, tier),
          stt AS (SELECT p, tier, $M - used AS zeros,
                         sp + ($M - used) * $MaxTerm AS ssum
                  FROM cells),
          pe AS (SELECT p, tier, zeros,
                        CAST($Alpha256 AS DOUBLE)
                          * CAST(${M.toLong * M} AS DOUBLE)
                          * CAST($MaxTerm AS DOUBLE) / CAST(ssum AS DOUBLE)
                          AS raw_est
                 FROM stt),
          fe AS (SELECT p, tier,
                        CASE WHEN zeros > 0 AND raw_est <= ${2.5 * M}
                             THEN CAST($M AS DOUBLE)
                                  * (ln(CAST($M AS DOUBLE))
                                     - ln(CAST(zeros AS DOUBLE)))
                             ELSE raw_est END AS est
                 FROM pe)
          SELECT ea.p AS hour_a_ms, ea.p + $HOUR_MS AS hour_b_ms,
                 ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
                 ea.est + eb.est - eu.est AS est_inter,
                 eu.est - ea.est AS est_new
          FROM (SELECT p, est FROM fe WHERE tier = 'a') ea
          JOIN (SELECT p, est FROM fe WHERE tier = 'b') eb ON eb.p = ea.p
          JOIN (SELECT p, est FROM fe WHERE tier = 'u') eu ON eu.p = ea.p
          ORDER BY hour_a_ms"""
    },

    "sk5_bottomk_new_users" ->
      s"""WITH du AS ($uniformSql),
          days AS (SELECT DISTINCT day FROM du),
          valid AS (SELECT d1.day AS p FROM days d1
                    JOIN days d2 ON d2.day = d1.day + 1),
          pairs AS (SELECT day AS p, u, 1 AS a, 0 AS b FROM du
                    UNION ALL
                    SELECT day - 1 AS p, u, 0 AS a, 1 AS b FROM du),
          uni AS (SELECT p, u, CAST(max(a) AS BIGINT) AS a,
                         CAST(max(b) AS BIGINT) AS b
                  FROM pairs JOIN valid USING (p) GROUP BY p, u),
          ex AS (SELECT p, CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1
                                         ELSE 0 END) AS BIGINT) AS n_new_exact
                 FROM uni GROUP BY p),
          rk AS (SELECT p, u, a, b,
                        row_number() OVER (PARTITION BY p ORDER BY u) AS rn
                 FROM uni),
          kb AS (SELECT p,
                        CAST(max(CASE WHEN rn = $K2 THEN u END) AS BIGINT)
                          AS uk,
                        CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS b_only_in_k,
                        CAST(count(*) AS BIGINT) AS k_used
                 FROM rk WHERE rn <= $K2 GROUP BY p),
          est AS (SELECT p, n_new_exact, b_only_in_k,
                         CAST(${K2 - 1} AS DOUBLE) * CAST($P AS DOUBLE)
                           * CAST($P2 AS DOUBLE) / CAST(uk AS DOUBLE)
                           * CAST(b_only_in_k AS DOUBLE)
                           / CAST($K2 AS DOUBLE) AS est_new
                  FROM ex JOIN kb USING (p)
                  WHERE k_used = $K2)
          SELECT p AS day_a, p + 1 AS day_b, n_new_exact, b_only_in_k,
                 est_new,
                 CASE WHEN n_new_exact > 0
                      THEN CAST(floor(CAST(1000000 AS DOUBLE)
                             * abs(est_new - CAST(n_new_exact AS DOUBLE))
                             / CAST(n_new_exact AS DOUBLE)) AS BIGINT)
                 END AS err_ppm
          FROM est ORDER BY day_a""",

    "sk3_cm_join_size" -> {
      val ph = StableHash.polyHash64Sql("('p' || CAST(k AS VARCHAR))")
      val cellRows = StableHash.affineParams(JsD).zipWithIndex.map {
        case ((a, b), i) =>
          s"SELECT ina, cnt, $i AS r, (($a * q1 + $b * q2) % $P) % $JsW " +
            "AS cell FROM qq"
      }.mkString(" UNION ALL ")
      s"""WITH cnt AS (SELECT l_partkey AS k,
                              l_shipdate < TIMESTAMP '1998-07-01' AS ina,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM lineitem GROUP BY 1, 2),
          ex AS (SELECT CAST(sum(a.cnt * b.cnt) AS BIGINT) AS n_exact
                 FROM cnt a JOIN cnt b ON a.k = b.k
                 WHERE a.ina AND NOT b.ina),
          hk AS (SELECT ina, cnt, h // 2147483648 AS hp, h % 2147483648 AS hp2
                 FROM (SELECT ina, cnt, $ph AS h FROM cnt)),
          qq AS (SELECT ina, cnt,
                        (hp * hp % $P + $rA * hp + $rB) % $P AS q1,
                        (hp2 * hp2 % $P2 + $vA * hp2 + $vB) % $P2 AS q2
                 FROM hk),
          rc AS ($cellRows),
          cells AS (SELECT ina, r, cell, CAST(sum(cnt) AS BIGINT) AS m
                    FROM rc GROUP BY 1, 2, 3),
          ip AS (SELECT a.r, CAST(sum(a.m * b.m) AS BIGINT) AS ip
                 FROM cells a JOIN cells b ON a.r = b.r AND a.cell = b.cell
                 WHERE a.ina AND NOT b.ina GROUP BY a.r),
          est AS (SELECT CAST(min(ip) AS BIGINT) AS cm_est FROM ip)
          SELECT r, ip, cm_est, n_exact,
                 (1000000 * (cm_est - n_exact)) // n_exact AS err_ppm
          FROM ip, est, ex ORDER BY r"""
    },

    "sk4_ams_f2" -> {
      val ph = StableHash.polyHash64Sql("('u' || CAST(user_id AS VARCHAR))")
      val signRows = StableHash.affineParams(F2D).zipWithIndex.map {
        case ((a, b), i) =>
          s"SELECT day, cnt, $i AS r, " +
            s"1 - 2 * ((($a * q1 + $b * q2) % $P) % 2) AS sg FROM qq"
      }.mkString(" UNION ALL ")
      s"""WITH du AS (SELECT epoch_us(ts) // $DAY_US AS day, user_id,
                             CAST(count(*) AS BIGINT) AS cnt
                      FROM events GROUP BY 1, 2),
          hk AS (SELECT day, cnt, h // 2147483648 AS hp, h % 2147483648 AS hp2
                 FROM (SELECT day, cnt, $ph AS h FROM du)),
          qq AS (SELECT day, cnt,
                        (hp * hp % $P + $rA * hp + $rB) % $P AS q1,
                        (hp2 * hp2 % $P2 + $vA * hp2 + $vB) % $P2 AS q2
                 FROM hk),
          rs AS ($signRows),
          x AS (SELECT day, r, CAST(sum(sg * cnt) AS BIGINT) AS x
                FROM rs GROUP BY day, r),
          gs AS (SELECT day, r % $F2G AS g, CAST(sum(x * x) AS BIGINT) AS gs
                 FROM x GROUP BY 1, 2),
          med AS (SELECT day, gs // $F2K AS f2_est
                  FROM (SELECT day, gs,
                               row_number() OVER (PARTITION BY day
                                 ORDER BY gs, g) AS rn
                        FROM gs)
                  WHERE rn = ${(F2G + 1) / 2}),
          ex AS (SELECT day, CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact
                 FROM du GROUP BY day)
          SELECT day, f2_exact, f2_est,
                 (1000000 * abs(f2_est - f2_exact)) // f2_exact AS err_ppm
          FROM ex JOIN med USING (day) ORDER BY day"""
    },

    "hll2_rolling_distinct" ->
      s"""WITH res AS ($spreadSql),
          vv AS (SELECT day, q1 % $M AS reg,
                        q2 % $SentBit + $SentBit AS vv
                 FROM res),
          regs AS (SELECT day, reg,
                          CAST(max(length(bin(vv & -vv))) AS INT) AS mr
                   FROM vv GROUP BY day, reg),
          days AS (SELECT DISTINCT day FROM regs),
          map AS (SELECT d2.day AS t, d1.day AS day
                  FROM days d1
                  JOIN days d2 ON d2.day BETWEEN d1.day AND d1.day + 6),
          mreg AS (SELECT t, reg, max(mr) AS mr
                   FROM regs JOIN map USING (day) GROUP BY t, reg),
          cells AS (SELECT t,
                           CAST(sum(CAST(1 AS BIGINT) << (${W + 1} - mr))
                             AS BIGINT) AS sp,
                           CAST(count(*) AS BIGINT) AS used
                    FROM mreg GROUP BY t),
          st AS (SELECT t, used, $M - used AS zeros,
                        sp + ($M - used) * $MaxTerm AS ssum
                 FROM cells),
          dm AS (SELECT t, CAST(count(*) AS BIGINT) AS days_merged
                 FROM map GROUP BY t),
          exd AS (SELECT DISTINCT epoch_us(ts) // $DAY_US AS day, user_id
                  FROM events),
          ex AS (SELECT t, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
                 FROM exd JOIN map USING (day) GROUP BY t),
          est AS (SELECT t, days_merged, n_exact, used, zeros,
                         CAST($Alpha256 AS DOUBLE) * CAST(${M.toLong * M} AS DOUBLE)
                           * CAST($MaxTerm AS DOUBLE) / CAST(ssum AS DOUBLE)
                           AS raw_est
                  FROM st JOIN ex USING (t) JOIN dm USING (t)),
          fin AS (SELECT t, days_merged, n_exact, used, zeros,
                         CASE WHEN zeros > 0 AND raw_est <= ${2.5 * M}
                              THEN CAST($M AS DOUBLE)
                                   * (ln(CAST($M AS DOUBLE))
                                      - ln(CAST(zeros AS DOUBLE)))
                              ELSE raw_est END AS est
                  FROM est)
          SELECT t AS day, days_merged, n_exact, used, zeros, est,
                 CAST(floor(CAST(1000000 AS DOUBLE)
                        * abs(est - CAST(n_exact AS DOUBLE))
                        / CAST(n_exact AS DOUBLE)) AS BIGINT) AS err_ppm
          FROM fin ORDER BY day""")
}
