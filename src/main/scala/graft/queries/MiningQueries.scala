package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Bootstrap

/** Pattern-mining / inference tier: frequent-itemset rules, zone-map
  * layout advice, offline change-point detection, the Poisson bootstrap,
  * mutual information, and capped inverted-index posting lists.
  *
  * Family traits shared with the rest of the registry: every statistic
  * that feeds a hash gate is either pure integer arithmetic, a fixed IEEE
  * expression tree, or a decimal-pinned transcendental (the w7/pv4 rule);
  * every data-scale shuffle is keyed, with dimension-bounded sides
  * broadcast; nothing collects to the driver.
  */
object MiningQueries extends QueryPack {

  // mb1's minimum pair support — rules below this are noise AND unbounded
  // output (the pair count is quadratic in basket size before filtering)
  private val MinSup = 3

  // t34's posting-list head cap: the index stores the first K doc ids per
  // term; full lists for stopword-grade terms are corpus-scale and belong
  // in sharded segments, not one row
  private val PostCap = 20

  // zm1's simulated file size (rows per zone) and its probe predicate
  // (ship days in calendar 1997, as epoch days — both engines' parquet
  // timestamps are UTC midnights, so epoch_us DIV day is exact)
  private val ZoneRows = 256L
  private val DayUs = 86400000000L
  private val D1 = java.time.LocalDate.of(1997, 1, 1).toEpochDay
  private val D2 = java.time.LocalDate.of(1998, 1, 1).toEpochDay

  // w13's minimum series length: a change point over <8 daily observations
  // is noise; the filter also bounds the emitted row count by active users
  private val MinDays = 8

  // fh1's hashed feature dimension (2^6 — collisions are the design, the
  // sign bit debiases them); t35's shingle width and the corpus-DF cut
  // above which a shingle counts as boilerplate (production uses a
  // corpus-RELATIVE cut like DF > f*N; a constant keeps oracle parity —
  // >2 of 500 docs matches this corpus's heavy-tail knee: max DF 7,
  // median 1)
  private val FhDim = 64
  private val ShK = 3
  private val BoilerDf = 2

  private val DAY_NS = 24L * 3600 * 1000 * 1000 * 1000

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Market-basket association rules over order baskets — the
    // frequent-itemset operator (support / confidence / lift for part
    // pairs bought together). Scale shape: the pair generator is a
    // self-join ON THE BASKET KEY, so fan-out is C(basket size, 2) per
    // order — bounded by the biggest basket (13 here), never by |corpus|
    // — and the support filter prunes BEFORE the per-item joins. Item
    // supports are dimension-bounded (|parts|) → broadcast; the corpus
    // total is a 1-row broadcast. Lift's triple product crosses 2^63 at
    // 100-TB row counts, so it rides decimal(38,0)/HUGEINT (st11's rule);
    // confidence and lift are integer ppm — no float division anywhere.
    "mb1_assoc_rules" -> ((s, d) => {
      // the distinct basket-item table feeds FOUR consumers (both pair
      // sides, item supports, corpus total) — persist it so the fact is
      // scanned and dedup-shuffled once, then checkpoint the tiny rule
      // table and free it inside the call (Blocks.checkpointThenRelease)
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().persist()
      val nOrders = items.agg(
        countDistinct(col("o")).as("n_orders"))
      val single = items.groupBy("p").agg(count(lit(1)).as("np"))
      val pairs = items
        .join(items.select(col("o"), col("p").as("p2")), "o")
        .filter(col("p") < col("p2"))
        .groupBy(col("p").as("p_a"), col("p2").as("p_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= MinSup)
      val rules = pairs
        .join(broadcast(single.select(col("p").as("p_a"),
          col("np").as("n_a"))), Seq("p_a"))
        .join(broadcast(single.select(col("p").as("p_b"),
          col("np").as("n_b"))), Seq("p_b"))
        .join(broadcast(nOrders))
        .select(col("p_a"), col("p_b"), col("n_ab"), col("n_a"), col("n_b"),
          // decimal(38,0) like lift_ppm: 1e6·n_ab passes 2^63 once pair
          // support exceeds ~9.2e12 — real at 100-TB basket counts
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab) div n_a AS BIGINT)")
            .as("conf_ppm"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_orders)
                  div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
            .as("lift_ppm"))
      graft.ops.Blocks.checkpointThenRelease(rules)(items.unpersist())
        .orderBy("p_a", "p_b")
    }),

    // Zone-map (min/max-per-file) scan-pruning advisor: for the probe
    // predicate "ship year = 1997", how many simulated 256-row files can
    // be skipped under (a) the physical insert order (zones = orderkey
    // blocks) vs (b) a shipdate-range-clustered layout (zones = 64-day
    // ranges — what range partitioning or Z-ordering on the predicate
    // column yields). This is the report a 100-TB table's layout decision
    // reads: same data, same predicate, skip fraction ~0 vs ~29/34. ONE
    // pass, one keyed aggregate per layout (min/max/count + the matching
    // count ride the same partial agg); the skip decision is row-local on
    // the zone table.
    "zm1_zonemap_prune" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          // NTZ→TZ is identity under the session's pinned UTC zone
          (unix_micros(col("l_shipdate").cast("timestamp")) / DayUs)
            .cast("bigint").as("day"))
      def zones(tagged: DataFrame, layout: String): DataFrame =
        tagged.groupBy("zone")
          .agg(count(lit(1)).as("n_rows"),
            min(col("day")).as("min_day"), max(col("day")).as("max_day"),
            sum(when(col("day") >= D1 && col("day") < D2, 1L)
              .otherwise(0L)).as("n_match"))
          .select(lit(layout).as("layout"), col("zone"), col("n_rows"),
            col("min_day"), col("max_day"), col("n_match"),
            (col("max_day") < D1 || col("min_day") >= D2).as("skippable"))
      val raw = zones(li.withColumn("zone",
        expr(s"l_orderkey div $ZoneRows")), "insert_order")
      val clustered = zones(li.withColumn("zone",
        expr("day div 64")), "range_clustered")
      raw.unionByName(clustered).orderBy("layout", "zone")
    }),

    // Offline change-point detection per user (the batch companion to
    // w7's CUSUM alarm): over each user's daily click-revenue series, the
    // split day maximizing the scaled CUSUM deviation |n·S_t − t·S| — the
    // classic single change-point statistic, INTEGER-exact because cents,
    // prefix sums, and counts are integers (the float spelling
    // |S_t/t − (S−S_t)/(n−t)| would gate on division ulps). The products
    // pass 2^63 at 100-TB cents totals → decimal(38,0)/HUGEINT; the
    // emitted statistic is normalized by n (div) back into bigint range.
    // All windows are PARTITIONED BY user — series length is calendar-
    // bounded (w8's rule), so no state grows with corpus size.
    "w13_changepoint" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), expr(s"ts DIV $DAY_NS").as("day"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .groupBy("user_id", "day").agg(sum(col("cents")).as("c"))
      val byUser = Window.partitionBy("user_id")
      val ord = byUser.orderBy("day")
      val scored = daily
        .withColumn("t", row_number().over(ord))
        .withColumn("s_t", sum(col("c"))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(byUser))
        .withColumn("s", sum(col("c")).over(byUser))
        .filter(col("n") >= MinDays && col("t") < col("n"))
        .withColumn("stat",
          abs(col("n").cast("decimal(38,0)") * col("s_t") -
            col("t").cast("decimal(38,0)") * col("s")))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy("user_id").orderBy(col("stat").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("n").as("n_days"),
          col("s").as("total_cents"), col("day").as("change_day"),
          expr("CAST(stat div n AS BIGINT)").as("stat_norm"))
        .orderBy("user_id")
    }),

    // Poisson bootstrap CI for mean purchase value — the resampling
    // scheme that distributes (see [[graft.ops.Bootstrap]]): every
    // replicate weight is a row-local seeded hash, so the plan is ONE
    // narrow 32× fan-out (explode of a literal range) folded straight
    // into a 32-group partial aggregate — map-side combine leaves ~32
    // rows per task regardless of corpus size; no shuffle grows with B.
    // Replicate sums are exact integers (cents ride decimal(38,0) through
    // accumulation); each replicate mean is ONE double division of two
    // exact integers — correctly rounded, bit-identical cross-engine.
    "ab3_bootstrap_ci" -> ((s, d) => {
      Tables.events(s, d)
        // null values are excluded from BOTH the sum and n_eff (the
        // repo-wide `value IS NOT NULL` rule) — without the filter a null
        // cents row still carries weight into n_eff and biases the mean
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("event_id"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .select(col("event_id"), col("cents"),
          explode(sequence(lit(0), lit(Bootstrap.B - 1))).as("b"))
        .withColumn("w",
          Bootstrap.weightCol(col("event_id"), col("b")).cast("bigint"))
        .groupBy(col("b").cast("bigint").as("b"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("cents").cast("decimal(38,0)"))
            .cast("bigint").as("sum_wcents"))
        .select(col("b"), col("n_eff"), col("sum_wcents"),
          // a replicate's n_eff is 0 with prob e^-n per group — certain
          // somewhere at scale; emit null, never 0/0
          when(col("n_eff") > 0,
            col("sum_wcents").cast("double") / col("n_eff").cast("double"))
            .as("rep_mean_cents"))
        .orderBy("b")
    }),

    // Mutual information between event type and day-of-week — the
    // dependence audit a feature pipeline runs before trusting a
    // categorical column pair. Cell counts are exact integers over a
    // DOMAIN-bounded table (5 types × 7 dows), so the three marginal
    // windows run over ≤35 rows — the pv1 bounded-domain rationale; the
    // only transcendental is one ln per cell, decimal-pinned (w7/pv4
    // rule), and the MI total is the exact decimal sum of pinned terms.
    // Probability ratios multiply in double BEFORE dividing (the identical
    // fixed IEEE tree on both engines), never in int64 — n_xy·n overflows
    // at 100-TB counts.
    "st13_mutual_info" -> ((s, d) => {
      val wAll = Window.partitionBy()
      val wX = Window.partitionBy("event_type")
      val wY = Window.partitionBy("dow")
      Tables.events(s, d)
        .select(col("event_type"), (expr(s"ts DIV $DAY_NS") % 7).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n_xy"))
        .withColumn("n", sum(col("n_xy")).over(wAll))
        .withColumn("n_x", sum(col("n_xy")).over(wX))
        .withColumn("n_y", sum(col("n_xy")).over(wY))
        .withColumn("term",
          ((col("n_xy").cast("double") / col("n").cast("double")) *
            log((col("n_xy").cast("double") * col("n").cast("double")) /
              (col("n_x").cast("double") * col("n_y").cast("double"))))
            .cast("decimal(18,6)"))
        .withColumn("mi_nats",
          sum(col("term")).over(wAll).cast("double"))
        .select(col("event_type"), col("dow"), col("n_xy"), col("n_x"),
          col("n_y"), col("term").cast("double").as("term"), col("mi_nats"))
        .orderBy("event_type", "dow")
    }),

    // Inverted-index build with capped posting heads: per term, the
    // document frequency and the first K doc ids — the retrieval-index
    // companion to t12/t18 (those consume df; this MATERIALIZES the
    // index). Two keyed shuffles, both post-reduction: the (term, doc)
    // stream dedups MAP-SIDE before its exchange (within-doc term repeats
    // never ship), then df-count, head-rank, and list assembly all ride
    // ONE term partitioning (the groupBy key is the window partition key,
    // so Catalyst plans zero extra exchanges after it). The cap is
    // the scale valve: a stopword's full posting list is corpus-scale,
    // but its emitted row is K ids — output bounded by |vocab|·K. Posting
    // heads compare byte-exact as ordered comma-joined strings (pd1's
    // discipline).
    // Feature hashing (the "hashing trick") — the vocab-free featurizer
    // every 100-TB text pipeline uses when a fitted vocabulary is itself
    // a scale problem: feature index = hash(token) mod D, a sign bit from
    // the hash's high bits debiases collisions (Weinberger et al.'s
    // signed variant), values are signed occurrence counts. No vocab
    // table, no fit pass, no join — ONE narrow explode into ONE
    // (doc, index)-keyed aggregate with map-side combine; output bounded
    // by |docs|·D. Portable polyHash on both engines.
    "fh1_feature_hashing" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .select(col("doc_id"),
          graft.functions.StableHash.polyHash(col("term")).as("h"))
        .select(col("doc_id"), (col("h") % FhDim).as("feat_idx"),
          when(expr(s"(h div $FhDim) % 2") === 0, 1L)
            .otherwise(-1L).as("sgn"))
        .groupBy("doc_id", "feat_idx")
        .agg(sum(col("sgn")).as("val"))
        .filter(col("val") =!= 0)
        .orderBy("doc_id", "feat_idx")
    }),

    // Leave-one-out target encoding — the leakage-safe categorical
    // featurizer (encode a category by the target mean of the OTHER rows
    // in it; including the row's own target leaks the label into the
    // feature). LOO collapses to row-local arithmetic over broadcast
    // per-category stats: (S_cat − x_i)/(n_cat − 1) — no per-row
    // exclusion join, which is what makes it viable at 100 TB. Stats are
    // domain-bounded (|event types|) → broadcast; the fact scan never
    // shuffles; each encoded value is ONE double division of two exact
    // integers — correctly rounded, bit-identical cross-engine.
    "fe1_target_encoding_loo" -> ((s, d) => {
      val ev = Tables.events(s, d)
        // rows without a target can't be encoded OR counted in n_cat
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val stats = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_cat"), sum(col("cents")).as("s_cat"))
      ev.join(broadcast(stats), Seq("event_type"))
        .filter(col("n_cat") > 1)
        .select(col("event_id"), col("event_type"), col("cents"),
          ((col("s_cat") - col("cents")).cast("double") /
            (col("n_cat") - 1).cast("double")).as("loo_mean_cents"))
        .orderBy("event_id")
    }),

    // Boilerplate share per document — CCNet's "fraction of this doc
    // made of corpus-common n-grams" quality signal (a doc whose
    // shingles all have high document frequency is template/boilerplate,
    // not content; the d-tier finds duplicate PAIRS, this scores every
    // doc against the corpus-wide shingle DF). Two posting-scale keyed
    // shuffles, t34's discipline: per-doc shingles pre-dedup NARROWLY
    // (array_distinct inside the generator), the DF count rides a
    // shingle partition, the share aggregate a doc partition; threshold
    // and ratio are integers.
    "t35_boilerplate_share" -> ((s, d) => {
      // shingles shuffle as 64-bit fingerprints, not 20-40-byte strings
      // (~4x fewer shuffle bytes, cheaper sort keys — measured 5.35 s →
      // see PLANS). polyHash64's ~2^60 range makes a collision ~1e-6 at
      // this corpus; the oracle uses the SAME fold, so even a collision
      // is IDENTICAL on both engines and the gate stays exact.
      //
      // r11 (guide §2.3/§3.2): the per-shingle DF used to ride
      // `count over (partition by sh)` — the posting stream's exchange
      // plus a full SORT just to attach one count. Now the DF cut is a
      // plain aggregate filtered down to the BOILER set — the df > cut
      // minority by construction (the cut exists to separate a
      // boilerplate MINORITY; here max DF 7, median 1) — attached with
      // one unhinted equi-join that AQE broadcast-converts while the
      // boiler set fits, SMJ (sorting what the old window sorted) past
      // it. Honest plan note: the DF side and the probe side do NOT
      // share an exchange — column pruning narrows the DF side's
      // Generate (no doc_id), so the two exchanges are not
      // canonical-equal and the shingle generation runs twice. Measured
      // anyway: the first cut (aggregate unpartitioned + broadcast,
      // generation 2×, sort gone) read 1.15× the window spelling; THIS
      // spelling (repartition feeding both, still 2× generation but the
      // probe side exchange-aligned) reads 0.73× at nominal anchors —
      // the removed posting-stream SORT is worth more than the repeated
      // narrow generation. Same integers, oracle unchanged.
      // r12: the probe side of a BROADCAST join needs no distribution at
      // all, so the sh-repartition moved OFF the probe path — the r11
      // spelling shared one `.repartition(sh)` frame between the DF
      // aggregate and the probe, which (column pruning splitting the two
      // subtrees — see the r11 note below) planned as TWO posting-scale
      // REPARTITION_BY_COL exchanges. The DF side keeps its measured
      // repartition+full-agg spelling (r11 A/B'd it against the
      // partial-agg form and the partial HashAggregate pass over the
      // near-unique shingle keys cost more than the exchange saved); the
      // probe stream now flows scan→BHJ→doc-agg with zero posting-scale
      // exchanges. Same rows into the same aggregates, oracle unchanged.
      // parallelize BEFORE the generation (Dedup.parallelize: the bench
      // corpus is a 1-task scan, and without the old probe-side posting
      // repartition the shingle chain would serialize on one core —
      // measured 4.7 → 7.5 s before this was added back at the RAW-doc
      // tier, where the exchange carries ~100× fewer bytes than the
      // posting stream the old spelling shuffled)
      val postings = graft.ops.Dedup.parallelize(
          Tables.documents(s, d).select("doc_id", "text"))
        .select(col("doc_id"),
          explode(graft.ops.Dedup.shingles(col("text"), ShK)).as("shingle"))
        .select(col("doc_id"),
          graft.functions.StableHash.polyHash64(col("shingle")).as("sh"))
      val boiler = postings.repartition(col("sh")).groupBy("sh")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > BoilerDf)
        .select(col("sh"), lit(1L).as("__b"))
      postings.join(boiler, Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__b") === 1L, 1L).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          expr("(1000000 * n_boiler) div n_shingles").as("boiler_ppm"))
        .orderBy("doc_id")
    }),

    "t34_inverted_index" -> ((s, d) => {
      // r12 (guide §2.4): the old chain paid THREE posting-scale
      // exchanges and a window SORT — (doc_id, term)-keyed distinct,
      // term-keyed window (count + row_number, sorted by doc_id), then a
      // term-keyed groupBy. Now ONE term-keyed exchange carries all of
      // it: hashpartitioning(term) satisfies the (term, doc_id) dedup
      // clustering (subset rule), df is a plain count over the deduped
      // postings, and the PostCap head is the O(k) SmallestKLongsAgg
      // (ascending doc_ids = exactly the rows the old rn <= cap window
      // kept, already sorted — gt5's typed-aggregate discipline), so the
      // posting stream is never window-sorted at all.
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .repartition(col("term"))
        .dropDuplicates("term", "doc_id")
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          concat_ws(",",
            transform(
              graft.functions.SmallestKLongsAgg.smallestK(col("doc_id"),
                PostCap),
              x => x.cast("string"))).as("postings_head"))
        .orderBy("term")
    }),
  )

  val oracles: Map[String, String] = Map(

    "mb1_assoc_rules" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                         FROM lineitem),
          n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders
                FROM items),
          sing AS (SELECT p, CAST(count(*) AS BIGINT) AS np
                   FROM items GROUP BY 1),
          pr AS (SELECT a.p AS p_a, b.p AS p_b,
                        CAST(count(*) AS BIGINT) AS n_ab
                 FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
                 GROUP BY 1, 2 HAVING count(*) >= $MinSup)
          SELECT p_a, p_b, n_ab, sa.np AS n_a, sb.np AS n_b,
                 CAST((CAST(1000000 AS HUGEINT) * n_ab) // sa.np AS BIGINT)
                   AS conf_ppm,
                 CAST((CAST(1000000 AS HUGEINT) * n_ab * n_orders)
                      // (CAST(sa.np AS HUGEINT) * sb.np) AS BIGINT)
                   AS lift_ppm
          FROM pr JOIN sing sa ON pr.p_a = sa.p
                  JOIN sing sb ON pr.p_b = sb.p
                  CROSS JOIN n
          ORDER BY p_a, p_b""",

    "zm1_zonemap_prune" ->
      s"""WITH li AS (SELECT l_orderkey,
                             epoch_us(l_shipdate) // $DayUs AS day
                      FROM lineitem),
          z AS (SELECT 'insert_order' AS layout,
                       l_orderkey // $ZoneRows AS zone, day FROM li
                UNION ALL
                SELECT 'range_clustered', day // 64, day FROM li)
          SELECT layout, zone, CAST(count(*) AS BIGINT) AS n_rows,
                 min(day) AS min_day, max(day) AS max_day,
                 CAST(sum(CASE WHEN day >= $D1 AND day < $D2
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
                 (max(day) < $D1 OR min(day) >= $D2) AS skippable
          FROM z GROUP BY layout, zone
          ORDER BY layout, zone""",

    "w13_changepoint" ->
      s"""WITH daily AS (
            SELECT user_id, epoch_us(ts) // ${DAY_NS / 1000} AS day,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS c
            FROM events WHERE event_type = 'click' GROUP BY 1, 2),
          scored AS (
            SELECT user_id, day, c,
                   row_number() OVER win AS t,
                   CAST(sum(c) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS HUGEINT) AS s_t,
                   CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
                   CAST(sum(c) OVER (PARTITION BY user_id) AS HUGEINT) AS s
            FROM daily
            WINDOW win AS (PARTITION BY user_id ORDER BY day)),
          cand AS (
            SELECT user_id, n, s, day,
                   abs(CAST(n AS HUGEINT) * s_t - CAST(t AS HUGEINT) * s)
                     AS stat
            FROM scored WHERE n >= $MinDays AND t < n)
          SELECT user_id, n AS n_days, CAST(s AS BIGINT) AS total_cents,
                 day AS change_day, CAST(stat // n AS BIGINT) AS stat_norm
          FROM cand
          QUALIFY row_number() OVER (PARTITION BY user_id
            ORDER BY stat DESC, day) = 1
          ORDER BY user_id""",

    "ab3_bootstrap_ci" -> {
      val w = Bootstrap.weightSql("event_id", "b")
      s"""WITH ev AS (SELECT event_id,
                             CAST(round(value * 100) AS BIGINT) AS cents
                      FROM events
                      WHERE event_type = 'purchase' AND value IS NOT NULL),
          rep AS (SELECT event_id, cents, b
                  FROM ev CROSS JOIN
                    (SELECT unnest(range(0, ${Bootstrap.B})) AS b)),
          wt AS (SELECT CAST(b AS BIGINT) AS b, CAST($w AS BIGINT) AS w,
                        cents FROM rep)
          SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
                 CAST(sum(CAST(w AS HUGEINT) * cents) AS BIGINT)
                   AS sum_wcents,
                 CASE WHEN sum(w) > 0 THEN
                   CAST(sum(CAST(w AS HUGEINT) * cents) AS DOUBLE)
                     / CAST(sum(w) AS DOUBLE)
                 ELSE NULL END AS rep_mean_cents
          FROM wt GROUP BY b ORDER BY b"""
    },

    "st13_mutual_info" ->
      s"""WITH cells AS (
            SELECT event_type, (epoch_us(ts) // ${DAY_NS / 1000}) % 7 AS dow,
                   CAST(count(*) AS BIGINT) AS n_xy
            FROM events GROUP BY 1, 2),
          m AS (SELECT event_type, dow, n_xy,
                       CAST(sum(n_xy) OVER () AS BIGINT) AS n,
                       CAST(sum(n_xy) OVER (PARTITION BY event_type)
                         AS BIGINT) AS n_x,
                       CAST(sum(n_xy) OVER (PARTITION BY dow) AS BIGINT)
                         AS n_y
                FROM cells),
          t AS (SELECT *,
                       CAST((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)) *
                         ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)) /
                            (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))
                         AS DECIMAL(18,6)) AS term
                FROM m)
          SELECT event_type, dow, n_xy, n_x, n_y,
                 CAST(term AS DOUBLE) AS term,
                 CAST(sum(term) OVER () AS DOUBLE) AS mi_nats
          FROM t ORDER BY event_type, dow""",

    "fh1_feature_hashing" -> {
      val h = graft.functions.StableHash.polyHashSql("term")
      s"""WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
          hashed AS (
            SELECT doc_id, ($h) % $FhDim AS feat_idx,
                   CASE WHEN (($h) // $FhDim) % 2 = 0 THEN 1 ELSE -1 END
                     AS sgn
            FROM toks)
          SELECT doc_id, feat_idx, CAST(sum(sgn) AS BIGINT) AS val
          FROM hashed GROUP BY 1, 2 HAVING sum(sgn) <> 0
          ORDER BY doc_id, feat_idx"""
    },

    "fe1_target_encoding_loo" ->
      """WITH ev AS (SELECT event_id, event_type,
                            CAST(round(value * 100) AS BIGINT) AS cents
                     FROM events WHERE value IS NOT NULL),
          stats AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cat,
                           CAST(sum(cents) AS BIGINT) AS s_cat
                    FROM ev GROUP BY 1)
          SELECT event_id, ev.event_type, cents,
                 CAST(s_cat - cents AS DOUBLE) / CAST(n_cat - 1 AS DOUBLE)
                   AS loo_mean_cents
          FROM ev JOIN stats USING (event_type)
          WHERE n_cat > 1 ORDER BY event_id""",

    "t35_boilerplate_share" -> {
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                     FROM documents),
          sgl AS (SELECT doc_id, ${graft.ops.Dedup.shinglesSql("ts", ShK)}
                    AS sh FROM t),
          postings AS (SELECT doc_id, unnest(sh) AS shingle FROM sgl),
          hashed AS (SELECT doc_id,
                            ${graft.functions.StableHash
                                .polyHash64Sql("shingle")} AS shh
                     FROM postings),
          wdf AS (SELECT doc_id,
                         count(*) OVER (PARTITION BY shh) AS df
                  FROM hashed)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                 CAST(sum(CASE WHEN df > $BoilerDf THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_boiler,
                 CAST((1000000 * sum(CASE WHEN df > $BoilerDf
                         THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
                   AS boiler_ppm
          FROM wdf GROUP BY doc_id ORDER BY doc_id"""
    },

    "t34_inverted_index" ->
      s"""WITH postings AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
          ranked AS (
            SELECT term, doc_id,
                   CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
                   row_number() OVER (PARTITION BY term ORDER BY doc_id)
                     AS rn
            FROM postings)
          SELECT term, max(df) AS df,
                 string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings_head
          FROM ranked WHERE rn <= $PostCap
          GROUP BY term ORDER BY term""",
  )
}
