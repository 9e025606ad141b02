package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.Tables
import graft.ops.{Grouped, Num}

/** SURVEY §2.5 aggregations + §2.6 grouped top-k over the corpus.
  * `orders` grouped by `o_custkey` plays the adslab-group role
  * (hash_columns = [bulk_id, slab_millers, ...] in catlas/filters.py:284-296);
  * `embeddings.embedding` plays the per-row energy/trajectory array.
  */
object GroupedQueries extends QueryPack {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship TPC-H-Q1-shaped pricing summary: partial+final hash aggregate,
    // decimal-exact sums (Num), single shuffle on the tiny group domain.
    "q1_agg" -> ((s, d) =>
      // parallelism floor: the bench file is an unsplittable 1-task scan,
      // and the decimal partial aggregation is the CPU cost (no-op on
      // well-split sources — Dedup.parallelize)
      graft.ops.Dedup.parallelize(Tables.lineitem(s, d).select(
          "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
          "l_discount"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Num.dsum(col("l_quantity")).as("sum_qty"),
          Num.dsum(col("l_extendedprice")).as("sum_base"),
          Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          Num.davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A2: sum of per-row array sizes (prediction_steps.py:406).
    "a2_sum_of_sizes" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(sum(size(split(col("text"), " "))).as("total_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    // A3 per-row array min + argmin (adslab_predictions.py:323-354) —
    // through the library helper so the gate exercises the same code the
    // domain cascade uses.
    "a3_array_min_argmin" -> ((s, d) => {
      val (mn, pos) = Grouped.arrayMinArgmin(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("vec_id"), mn.cast("double").as("min_e"),
          pos.cast("bigint").as("argmin_pos"))
        .orderBy("vec_id")
    }),

    // A3 grouped argmin via the helper (min_by + struct tie-break — one
    // aggregate, no window, deterministic under ties).
    "a3_group_argmin" -> ((s, d) =>
      Grouped.groupArgmin(Tables.orders(s, d), Seq("o_custkey"),
        col("o_totalprice"), col("o_orderkey"), col("o_orderkey"))
        .select(col("o_custkey"), col("min_score").as("min_price"),
          col("argmin").as("argmin_key"))
        .orderBy("o_custkey")),

    // A4 conditional per-step accounting (adslab_predictions.py:365-387).
    "a4_count_steps" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_done"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_open"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // A5 grouped OLS parity stats (parity_utils.py:206-243).
    "a5_grouped_regression" -> ((s, d) =>
      Grouped.groupedRegression(Tables.lineitem(s, d), Seq("l_returnflag"),
        col("l_quantity"), col("l_extendedprice") / lit(10000.0))
        .orderBy("l_returnflag")),

    // A6 per-frame mean curve (bin/optimize_frame.py:73-96).
    "a6_per_index_mean" -> ((s, d) =>
      Grouped.perIndexMean(Tables.embeddings(s, d),
        col("embedding").cast("array<double>"), Seq("vec_id"))
        .orderBy("pos")),

    // A6 argmin frame: the single best index.
    "a6_argmin_index" -> ((s, d) =>
      Grouped.perIndexMean(Tables.embeddings(s, d),
        col("embedding").cast("array<double>"), Seq("vec_id"))
        .orderBy(col("mean_v"), col("pos")).limit(1)
        .select("pos", "mean_v")),

    // A7 grouped EXISTS, soft-delete marking (filters.py:266-350): groups
    // with no row passing keep all rows but gain a filter_reason.
    "a7_grouped_exists_mark" -> ((s, d) =>
      Grouped.groupedExistsMark(Tables.orders(s, d), Seq("o_custkey"),
        col("o_totalprice") > 400000.0, "no_order_above_400k")
        .select("o_orderkey", "o_custkey", "filter_reason")
        .orderBy("o_orderkey")),

    // A7 hard variant: grouped EXISTS as a keep-filter (left-semi reading).
    "a7_grouped_exists_keep" -> ((s, d) =>
      Grouped.groupedExistsKeep(Tables.lineitem(s, d), Seq("l_orderkey"),
        col("l_discount") >= 0.09)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")),

    // A8 grouped top-k, ascending score (filter_utils.py:568-614).
    "a8_group_topk" -> ((s, d) =>
      Grouped.groupTopK(Tables.orders(s, d), Seq("o_custkey"),
        col("o_totalprice"), Seq(col("o_orderkey")), 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")),

    // A8 via Spark's bounded collect_top_k aggregate (map-side combine
    // keeps ≤k rows per group BEFORE the shuffle — same rows as
    // a8_group_topk, same oracle, no window sort of every order row).
    "a8_topk_agg" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(ColumnBridge.collectSmallestK(
          struct(col("o_totalprice").as("score"), col("o_orderkey").as("tie")),
          3).as("topk"))
        .select(col("o_custkey"), explode(col("topk")).as("e"))
        .select(col("o_custkey"), col("e.tie").as("o_orderkey"),
          col("e.score").as("o_totalprice"))
        .orderBy("o_custkey", "o_orderkey")),

    // A8 top_proportion variant.
    "a8_top_proportion" -> ((s, d) =>
      Grouped.groupTopProportion(Tables.orders(s, d), Seq("o_custkey"),
        col("o_totalprice"), Seq(col("o_orderkey")), 0.2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")),

    // A9 within-threshold-of-group-min (filter_utils.py:623-679).
    "a9_within_min_threshold" -> ((s, d) =>
      Grouped.withinThresholdOfMin(Tables.lineitem(s, d), Seq("l_orderkey"),
        col("l_extendedprice"), 0.10)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    // A10 Sankey cardinality ledger (sankey_utils.py + filters.py:139-158):
    // per-stage counts as a table; in the pipeline module this is driven by
    // observe() metrics rather than extra count() actions.
    "a10_stage_ledger" -> ((s, d) => {
      val p = Tables.part(s, d)
      val s0 = p.agg(count(lit(1)).as("n"))
        .select(lit(0).as("stage"), lit("all").as("label"), col("n"))
      val f1 = p.filter(col("p_size") <= 20)
      val s1 = f1.agg(count(lit(1)).as("n"))
        .select(lit(1).as("stage"), lit("size_le_20").as("label"), col("n"))
      val s2 = f1.filter(col("p_brand").isin("Brand#2", "Brand#15", "Brand#19"))
        .agg(count(lit(1)).as("n"))
        .select(lit(2).as("stage"), lit("brand_isin").as("label"), col("n"))
      s0.union(s1).union(s2).orderBy("stage")
    }),

    // Distinct aggregate (beyond the reference's surface — SURVEY §2.5
    // notes it has none; a data-pipeline engine needs it).
    "a12_distinct_agg" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("lang"), col("doc_id") % 2).as("n_lang_parity"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // §2.6 global top-k (the one global sort in the surface; TakeOrdered
    // physical op — no full sort at scale).
    "s1_global_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // §2.6 global RANKING without a global sort: row_number() over a
    // global order is a single-task window (the classic scale trap). The
    // distributed form is two-phase: (1) histogram over deterministic
    // value bins — a tiny aggregate, |bins| rows; (2) running-sum the bin
    // counts into per-bin rank offsets (single-partition window over the
    // HISTOGRAM, metadata-sized, not the data); (3) broadcast the offsets
    // back and rank within each bin — one keyed shuffle on the bin. Rank
    // = offset + within-bin row_number, bit-equal to the global window.
    "s2_global_rank" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val binned = docs.withColumn("__bin", expr("n_chars DIV 16"))
      val offsets = binned.groupBy("__bin").count()
        .withColumn("__offset",
          sum(col("count")).over(Window.orderBy(col("__bin")))
            - col("count"))
        .select("__bin", "__offset")
      val w = Window.partitionBy(col("__bin"))
        .orderBy(col("n_chars"), col("doc_id"))
      binned.join(broadcast(offsets), Seq("__bin"))
        .withColumn("rnk", col("__offset") + row_number().over(w))
        .select("doc_id", "n_chars", "rnk")
        .orderBy("rnk")
    }),
  )

  private def regSql: String = {
    val sx = Num.sqlSum("l_quantity"); val sy = Num.sqlSum("l_extendedprice / 10000.0")
    val sxx = Num.sqlSum("l_quantity * l_quantity")
    val sxy = Num.sqlSum("l_quantity * (l_extendedprice / 10000.0)")
    val syy = Num.sqlSum("(l_extendedprice / 10000.0) * (l_extendedprice / 10000.0)")
    val mae = Num.sqlAvg("abs(l_quantity - l_extendedprice / 10000.0)")
    s"""WITH s AS (
          SELECT l_returnflag, count(*) AS n, $mae AS mae,
                 $sx AS sx, $sy AS sy, $sxx AS sxx, $sxy AS sxy, $syy AS syy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, mae,
               (sxy - sx*sy/n) / (sxx - sx*sx/n) AS slope,
               (sy - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) * sx) / n AS intercept,
               ((sxy - sx*sy/n) * (sxy - sx*sy/n)) /
                 ((sxx - sx*sx/n) * (syy - sy*sy/n)) AS r2
        FROM s ORDER BY l_returnflag"""
  }

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
                 ${Num.sqlSum("l_quantity")} AS sum_qty,
                 ${Num.sqlSum("l_extendedprice")} AS sum_base,
                 ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
                 ${Num.sqlAvg("l_quantity")} AS avg_qty,
                 count(*) AS n
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",
    "a2_sum_of_sizes" ->
      """SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                count(*) AS n_docs
         FROM documents GROUP BY lang ORDER BY lang""",
    "a3_array_min_argmin" ->
      """SELECT vec_id, CAST(list_min(embedding) AS DOUBLE) AS min_e,
                CAST(list_position(embedding, list_min(embedding)) AS BIGINT) AS argmin_pos
         FROM embeddings ORDER BY vec_id""",
    "a3_group_argmin" ->
      """SELECT o_custkey, min_price, argmin_key FROM (
           SELECT o_custkey, o_totalprice AS min_price, o_orderkey AS argmin_key,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice, o_orderkey) AS rn
           FROM orders) WHERE rn = 1 ORDER BY o_custkey""",
    "a4_count_steps" ->
      """SELECT o_orderpriority,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
                CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                count(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "a5_grouped_regression" -> regSql,
    "a6_per_index_mean" ->
      s"""WITH x AS (SELECT CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS pos,
                            unnest(embedding) AS v FROM embeddings)
          SELECT pos,
                 (CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*)) AS mean_v,
                 count(*) AS n
          FROM x GROUP BY pos ORDER BY pos""",
    "a6_argmin_index" ->
      s"""WITH x AS (SELECT CAST(unnest(generate_series(1, len(embedding))) - 1 AS INT) AS pos,
                            unnest(embedding) AS v FROM embeddings)
          SELECT pos, mean_v FROM (
            SELECT pos,
                   (CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*)) AS mean_v
            FROM x GROUP BY pos)
          ORDER BY mean_v, pos LIMIT 1""",
    "a7_grouped_exists_mark" ->
      """SELECT o_orderkey, o_custkey,
                CASE WHEN max(CASE WHEN o_totalprice > 400000.0 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY o_custkey) = 0
                     THEN 'no_order_above_400k' ELSE NULL END AS filter_reason
         FROM orders ORDER BY o_orderkey""",
    "a7_grouped_exists_keep" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem li
         WHERE EXISTS (SELECT 1 FROM lineitem x
                       WHERE x.l_orderkey = li.l_orderkey AND x.l_discount >= 0.09)
         ORDER BY l_orderkey, l_linenumber""",
    "a8_group_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT *, row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""",
    "a8_topk_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT *, row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""",
    "a8_top_proportion" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT *, row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice, o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_custkey) AS cnt
           FROM orders) WHERE rn <= ceil(cnt * 0.2) ORDER BY o_custkey, o_orderkey""",
    "a9_within_min_threshold" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM (
           SELECT *, min(l_extendedprice) OVER (PARTITION BY l_orderkey) AS mn
           FROM lineitem) WHERE l_extendedprice <= mn + 0.10 * abs(mn)
         ORDER BY l_orderkey, l_linenumber""",
    "a10_stage_ledger" ->
      """SELECT * FROM (
           SELECT 0 AS stage, 'all' AS label, count(*) AS n FROM part
           UNION ALL
           SELECT 1, 'size_le_20', count(*) FROM part WHERE p_size <= 20
           UNION ALL
           SELECT 2, 'brand_isin', count(*) FROM part
           WHERE p_size <= 20 AND p_brand IN ('Brand#2', 'Brand#15', 'Brand#19'))
         ORDER BY stage""",
    "a12_distinct_agg" ->
      """SELECT source, count(DISTINCT lang) AS n_langs,
                count(DISTINCT (lang, doc_id % 2)) AS n_lang_parity,
                count(*) AS n_docs
         FROM documents GROUP BY source ORDER BY source""",
    "s1_global_topk" ->
      """SELECT o_orderkey, o_totalprice FROM (
           SELECT o_orderkey, o_totalprice FROM orders
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
         ORDER BY o_orderkey""",
    // the oracle IS the single-window global rank the Spark plan avoids
    "s2_global_rank" ->
      """SELECT doc_id, n_chars,
                CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rnk
         FROM documents ORDER BY rnk""",
  )
}
