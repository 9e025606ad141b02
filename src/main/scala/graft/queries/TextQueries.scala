package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.StableHash
import graft.ops.{Bloom, Dedup, Num, TextOps}

/** Text-analysis pack (builder-prompt extension): language ID, quality
  * scoring, token counting, document fingerprinting — each a narrow,
  * shuffle-free map over `documents` that would fuse into the scan at
  * 100 TB. Oracle SQL is generated from the same profile/constant tables
  * as the Spark expressions, so both engines share one definition.
  */
object TextQueries extends QueryPack {

  // hh2's count-min geometry — one definition feeds the Spark cells and
  // the generated oracle (with StableHash.affineParams(CmD) hash family)
  private val CmW = 1024
  private val CmD = 4

  // the decontaminate family's (t8, t22, t17) distinct 8-gram rows:
  // (doc_id, g), docs shorter than 8 tokens contributing none
  private def eightGrams(docs: DataFrame): DataFrame =
    Dedup.explodeRows(
      docs.select(col("doc_id"), split(col("text"), " ").as("__ts")),
      Seq(col("doc_id")), Dedup.shinglesFromTokens(col("__ts"), 8), "g")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_langid" -> ((s, d) => {
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.langPredict(toks).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // Langid model-eval readout: the confusion matrix of t1's predictor
    // against the labeled lang column, with per-true-class shares — the
    // "is the classifier good enough to route on" number a curation
    // pipeline reports before it trusts t1's routing. Scale shape: ONE
    // (lang, lang_pred)-keyed aggregate; the cell table is ≤ |langs|²
    // rows, so the row-total join-back is bounded and broadcast.
    "t30_langid_confusion" -> ((s, d) => {
      val cells = Tables.documents(s, d)
        .select(col("lang"),
          TextOps.langPredict(TextOps.tokens(col("text"))).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      val rowTot = cells.groupBy("lang").agg(sum(col("n")).as("row_n"))
      cells.join(broadcast(rowTot), Seq("lang"))
        .select(col("lang"), col("lang_pred"), col("n"),
          expr("(1000000 * n) div row_n").as("share_ppm"))
        .orderBy("lang", "lang_pred")
    }),

    // Tokenizer fertility per source: BPE-ish tokens per whitespace token
    // — the training-cost multiplier a data-mixture planner budgets with
    // (a high-fertility source costs more compute per document than its
    // token share suggests). Integer sums, ONE source-keyed aggregate,
    // ppm at the end.
    "t31_token_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("ws"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("bpe"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"))
        .select(col("source"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"),
          expr("(1000000 * bpe_tokens) div ws_tokens").as("fertility_ppm"))
        .orderBy("source")),

    "t2_quality_score" -> ((s, d) => {
      val comps = TextOps.qualityComponents(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id") +: comps.map { case (n, c) => c.as(n) }
          :+ TextOps.qualityScore(col("text")).as("quality"): _*)
        .orderBy("doc_id")
    }),

    "t3_token_counts" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws_tokens"),
          TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_computed"))
        .orderBy("doc_id")),

    "t4_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Train/test split the PRODUCTION way: deterministic content-hash
    // bucketing, not RNG — reproducible across runs/engines, stable as
    // the corpus grows, and leak-free when keyed by the dedup component.
    "t5_hash_split" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(pmod(StableHash.polyHash(
              concat_ws("", lit("split|"), col("doc_id").cast("string"))),
            lit(100)) < 80, "train").otherwise("test").as("split"))
        .orderBy("doc_id")),

    // Token-budget packing: docs packed into ~512-token bins per lang
    // (context-window filling). Prefix-sum over a PARTITIONED window —
    // global greedy packing would be a single-task window; per-lang (or
    // per-shard) keys keep it one keyed shuffle at any scale.
    "t6_token_packing" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id", expr("(cum - n_tokens) DIV 512"))
        .select("doc_id", "lang", "n_tokens", "pack_id")
        .orderBy("doc_id")
    }),

    // PII redaction over text seeded with deterministic synthetic PII (the
    // corpus itself is PII-free word salad — seeding makes every pattern
    // provably fire instead of a vacuous all-zeros pass). Narrow map.
    "t7_pii_redact" -> ((s, d) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ping 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call +"), (col("doc_id") + 100000000L).cast("string"))
      val counts = TextOps.piiCounts(col("t"))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("t"))
        .select(col("doc_id") +: counts.map { case (n, c) => c.as(n) }
          :+ TextOps.redactPii(col("t")).as("redacted"): _*)
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: candidate docs sharing any 8-gram with the
    // held-out "benchmark" slice (doc_id % 10 == 0) are contaminated. The
    // join is gram → gram: posting lists, never docs × docs; the benchmark
    // side is the small one and AQE broadcasts it when it fits.
    "t8_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val grams = eightGrams(docs)
      val bench = grams.filter(col("doc_id") % 10 === 0).select("g").distinct()
      val hits = grams.filter(col("doc_id") % 10 =!= 0)
        .join(bench, Seq("g"))
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_hits"))
      docs.filter(col("doc_id") % 10 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }),

    // Decontamination REPORT tier: the per-source roll-up the pipeline
    // owner reads before deciding what to drop — docs scanned, docs
    // contaminated, the rate, and total overlapping grams per source.
    // Same gram→gram posting join as t8 plus ONE keyed aggregate over the
    // already-tiny per-doc hit table; no new shuffle shape, and the rate
    // is an int/int IEEE divide (bit-identical cross-engine).
    "t22_contamination_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val grams = eightGrams(docs)
      val bench = grams.filter(col("doc_id") % 10 === 0).select("g").distinct()
      val hits = grams.filter(col("doc_id") % 10 =!= 0)
        .join(bench, Seq("g"))
        .groupBy("doc_id").agg(countDistinct(col("g")).as("n_hits"))
      docs.filter(col("doc_id") % 10 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).cast("int").as("n_docs"),
          count(col("n_hits")).cast("int").as("n_contaminated"),
          (count(col("n_hits")).cast("double") /
            count(lit(1)).cast("double")).as("contamination_rate"),
          sum(coalesce(col("n_hits"), lit(0L))).as("n_overlap_grams"))
        .orderBy("source")
    }),

    // Per-source quota sampling (domain balancing): keep ≤10 docs per
    // source in deterministic hash order (cap < every source's count here,
    // so the cap provably bites) — one keyed shuffle, and Spark plans the
    // rank-filter as WindowGroupLimit (top-k pushdown).
    "t9_domain_quota" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("__h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          StableHash.polyHash(concat_ws("",
            lit("quota|"), col("doc_id").cast("string"))).as("__h"))
        .withColumn("quota_rank", row_number().over(w))
        .filter(col("quota_rank") <= 10)
        .select("doc_id", "source", "quota_rank")
        .orderBy("doc_id")
    }),

    // Intra-document repetition (boilerplate detection): 5-gram
    // distinct/total ratio, per-row, shuffle-free. The synthetic corpus has
    // zero natural repetition (every doc's 5-grams are distinct), so docs
    // with doc_id % 5 == 0 are seeded with deterministic boilerplate (their
    // own first 20 tokens re-appended) — same rationale as t7's PII seed:
    // the positive path must provably fire.
    "t10_repetition" -> ((s, d) => {
      val seeded = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" "),
          array_join(slice(split(col("text"), " "), 1, 20), " ")))
        .otherwise(col("text"))
      val comps = TextOps.repetitionComponents(col("__ts"))
      Tables.documents(s, d)
        .select(col("doc_id"), split(seeded, " ").as("__ts"))
        .select(col("doc_id") +: comps.map { case (n, c) => c.as(n) }: _*)
        .withColumn("repetitive", col("repetition") > 0.1)
        .orderBy("doc_id")
    }),

    "t11_gopher_rules" -> ((s, d) => {
      val comps = TextOps.gopherComponents(col("__ts"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__ts"))
        .select(col("doc_id") +: comps.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }),

    // Deterministic corpus shuffle + shard materialization — the step
    // between packing (t6) and training: every doc gets a seed-derived
    // pseudo-random SHARD and a stable position WITHIN its shard. The
    // within-shard ordering window partitions on the shard key, so the
    // sort never exceeds one shard (corpus_size / n_shards rows) per task
    // — a global orderBy here would be the classic single-range-sort
    // bottleneck at 100 TB.
    "t13_shuffle_shard" -> ((s, d) => {
      val h = StableHash.polyHash(
        concat_ws("", lit("shuffle|"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(8)).cast("int"))
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("doc_id")
    }),

    // Mixture weighting / epoch upsampling: the "repeat high-quality
    // sources N×" op every training-data mix needs. Per-source integer
    // weight (derived deterministically from the source id so it scales
    // with any corpus), each doc replicated weight times with an epoch
    // index — explode(sequence(...)) is a NARROW fan-out fused into the
    // scan; no shuffle, output size = Σ weights, known up front.
    "t14_source_mixture" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          (regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 4 + 1)
            .as("weight"))
        .withColumn("epoch", explode(sequence(lit(0), col("weight") - 1)))
        .select("doc_id", "source", "weight", "epoch")
        .orderBy("doc_id", "epoch")),

    // Curriculum ordering: each source's docs split into 4 quality phases
    // (train easy→hard). ntile over a PARTITIONED window — per-source, so
    // no single-task global sort; quality reuses t2's exact expression
    // tree (hash-matched cross-engine, so the order — and thus the tile
    // boundaries — is deterministic, with doc_id as the tie-break).
    // Rank-based quality-score calibration (quantile normalization): raw
    // per-doc quality scores are incomparable ACROSS sources (each
    // source's score distribution differs), so the mixing stage wants the
    // within-source percentile instead. percent_rank over the source
    // partition — one source-keyed exchange, sort bounded per source,
    // never global; the rank is (rank-1)/(n-1), an exact int-derived
    // double both engines compute identically.
    "t23_quantile_normalize" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.qualityScore(col("text")).as("quality"))
        .withColumn("q_pct", percent_rank().over(w))
        .select("doc_id", "source", "quality", "q_pct")
        .orderBy("doc_id")
    }),

    // Top-3 TF-IDF keywords per document — the per-doc topical-signature
    // extractor (dataset cards, topic quotas, retrieval labels all want
    // "what is this doc about" as a cheap keyed column). Scale shape: tf
    // is one (doc, term)-keyed map-side-combined aggregate over the token
    // stream; df reduces it to a |vocab|-row table that joins back
    // UNHINTED (vocab is corpus-bounded but can outgrow a broadcast at
    // 100 TB — AQE size-switches, the graph-tier discipline applied to
    // text); the per-doc top-3 is a doc-keyed window over ≤|doc vocab|
    // rows, never a global sort. FP discipline: score = tf·ln(N/df) is
    // ONE fixed double expression over exact integers (t18/t19
    // precedent), quantized through DECIMAL(18,6) on BOTH engines so the
    // RANKING key itself — not just the emitted value — is identical
    // cross-engine; ties broken by term for a total order.
    "t24_tfidf_topk" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
      // r12 (guide §2.4): one TERM-keyed exchange serves the whole chain —
      // hashpartitioning(term) satisfies the (doc_id, term) tf clustering
      // (subset rule), dfreq's term groupBy rides the already-clustered
      // tf table with no exchange, and the tf⋈dfreq join sees both sides
      // co-partitioned from the SAME exchange. The old spelling paid
      // three posting-scale exchanges ((doc,term) agg, term partial-agg,
      // tf-by-term join shuffle) before the unavoidable per-doc window.
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .repartition(col("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          (col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")))
            .cast("decimal(18,6)").cast("double"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("tfidf"),
          col("rnk").cast("int").as("rnk"))
        .orderBy("doc_id", "rnk")
    }),

    "t15_curriculum" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.qualityScore(col("text")).as("quality"))
        .withColumn("phase", ntile(4).over(w))
        .select("doc_id", "source", "phase")
        .orderBy("doc_id")
    }),

    // Per-source percentile outlier filter: drop docs outside their
    // source's [p5, p95] length band — the distribution-aware quality
    // gate (a global band misfires when sources have different length
    // regimes). Stats side is |sources| rows → broadcast; corpus side
    // stays unshuffled.
    "t16_outlier_filter" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy("source")
        .agg(expr("percentile(n_chars, 0.05)").as("lo"),
          expr("percentile(n_chars, 0.95)").as("hi"))
      docs.join(broadcast(stats), Seq("source"))
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Decontamination at the 100 TB tier: t8's semantics (8-gram overlap
    // with the benchmark set) as an APPLY (clean corpus out), with a Bloom
    // sketch pruning the corpus-side grams BEFORE the exact-verify join —
    // the shuffle carries only bloom-positive grams (true hits + fpp·N)
    // instead of every n-gram of the corpus. Exact regardless of sketch
    // sizing: false positives are re-checked by the join, false negatives
    // don't exist. Oracle = the exact semantics with no bloom at all —
    // passing proves the prefilter changed the plan, not the answer.
    "t17_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val grams = eightGrams(docs)
      val benchGrams = grams.filter(col("doc_id") % 10 === 0)
        .select("g").distinct()
      // sized for the benchmark side (50k docs × ~200 grams at sf0.1 ≪ 1M);
      // at real scale: |benchmark n-grams| estimate, ~1.2 MB per 1M @ 1%
      val probe = Bloom.mightContain(benchGrams, "g", 1000000L, 0.01)
      val contaminated = grams.filter(col("doc_id") % 10 =!= 0)
        .filter(probe(col("g")))
        .join(benchGrams, Seq("g"))
        .select("doc_id").distinct()
      docs.filter(col("doc_id") % 10 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Data-quality audit (Deequ shape): four declarative constraints
    // compiled into ONE aggregate scan — two hold (0 violations proves
    // the constraint), two fire (real counts prove the counting).
    "dq1_audit" -> ((s, d) => {
      import graft.ops.DataQuality._
      audit(Tables.documents(s, d), Seq(
        NotNull("text"), Unique("doc_id"),
        InRange("n_chars", 1, 400), Matches("lang", "en|de|fr")))
        .orderBy("check")
    }),

    // Quarantine routing — the APPLY side of dq1's audit: every row
    // tagged with the row-decidable rules it fails (CSV, '' = clean) in
    // ONE narrow zero-exchange projection; is_clean splits the corpus
    // from its dead-letter stream. Same rules as dq1 minus Unique
    // (aggregate-scoped → keep-first dedup is its apply form, d2/d9).
    "dq2_quarantine" -> ((s, d) => {
      import graft.ops.DataQuality._
      quarantineTag(Tables.documents(s, d), Seq(
        NotNull("text"), InRange("n_chars", 1, 400), Matches("lang", "en|de|fr")))
        .select(col("doc_id"), col("failed_checks"),
          (col("failed_checks") === "").as("is_clean"))
        .orderBy("doc_id")
    }),

    // Heavy hitters WITHOUT a full-domain shuffle: Misra–Gries partial
    // summaries (bounded 256-entry state through map-side combine, so the
    // exchange carries O(partitions·capacity) rows however large the
    // vocabulary) → candidate set → exact re-verify of candidates only
    // (broadcast semi-join + count) → threshold. Deterministic because MG
    // guarantees every item above N/(capacity+1) survives any merge order
    // and the reported set is re-counted exactly.
    "hh1_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val mg = new graft.functions.MisraGries.Summary(256).toColumn
      val cand = docs.select(split(col("text"), " ").as("tokens"))
        .as[Seq[String]].select(mg).toDF("mg")
        .select(explode(map_keys(col("mg"))).as("token"))
      val toks = docs.select(explode(split(col("text"), " ")).as("token"))
      val counts = toks.join(broadcast(cand), Seq("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = toks.agg(count(lit(1)).as("total"))
      counts.crossJoin(broadcast(total))
        .filter(col("cnt") * 32 >= col("total"))
        .select(col("token"), col("cnt"))
        .orderBy("token")
    }),

    // The composed pipeline (TextPipeline.compile): rules → fingerprint
    // dedup → per-source quota → shuffle-shard in one plan. Stage counts
    // ride observe() (TextPipelineSpec); the gate checks the final corpus.
    "tp1_text_pipeline" -> ((s, d) =>
      graft.ops.TextPipeline.compile(Tables.documents(s, d))
        .orderBy("doc_id")),

    // The same compiled pipeline with the t14 mixture stage between quota
    // and shard — filter → dedup → quota → upsample → shuffle in one plan,
    // shard keyed by (doc_id, epoch) so a doc's epochs spread.
    "tp2_mixture_pipeline" -> ((s, d) =>
      graft.ops.TextPipeline.compileWithMixture(Tables.documents(s, d))
        .orderBy("doc_id", "epoch")),

    // Corpus-statistics scoring (the CCNet-perplexity SHAPE, integer-exact:
    // no log/float model): pass 1 aggregates global per-token document
    // frequency; pass 2 joins the stats back and scores each doc by the
    // mean DF of its tokens — low score = doc built from rare terms. The
    // vocabulary table is broadcast (vocabularies stay ≤ millions of rows
    // even at 100 TB; were that to break, the join degrades gracefully to
    // a shuffle on the token key).
    "t12_term_df_score" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tk"))
      val dfreq = tok.groupBy("tk").agg(countDistinct("doc_id").as("df"))
      tok.join(broadcast(dfreq), Seq("tk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("df").as("df_sum"))
        .select(col("doc_id"), col("n_tokens"), col("df_sum"),
          (col("df_sum").cast("double") / col("n_tokens").cast("double"))
            .as("mean_df"))
        .orderBy("doc_id")
    }),

    // Full-text relevance: BM25 (k1=1.2, b=0.75) of a fixed query-term set
    // over the corpus. Exactness discipline (Num): tf/df/dl/N stay
    // integer-exact; the per-row score is ONE fixed double expression tree
    // (identical IEEE evaluation in both engines, log included — its
    // inputs are |Q| distinct rationals); the per-doc accumulation is the
    // decimal-exact dsum. Scale shape: corpus tokens are filtered to the
    // query terms BEFORE any shuffle (the tf aggregate carries only
    // matching tokens), df (|Q| rows) and the 1-row corpus stats are
    // broadcast — the corpus itself shuffles once, keyed by (doc, term),
    // already reduced by map-side combine.
    "t18_bm25" -> ((s, d) => bm25Frame(s, d).orderBy("doc_id")),

    // Unigram-LM quality filter (the CCNet/perplexity-filter shape): the
    // corpus's own unigram distribution scores every token as
    // ln((cnt+1)/(T+V)) (add-one smoothing) and a doc's score is its mean
    // token log-prob — boilerplate-ish docs of common tokens score high,
    // out-of-distribution junk scores low. Exactness: counts stay integer,
    // the per-token log-prob is ONE fixed double expression (inputs are
    // exact rationals, ln is IEEE-identical cross-engine — t18 precedent),
    // per-doc accumulation is the decimal-exact dsum. Scale shape: the
    // vocab table is |V| rows → broadcast back onto the token stream; the
    // corpus shuffles once for the vocab count (map-side combined) and
    // once keyed by doc for the fold — no all-pairs, no driver state.
    "t19_unigram_logprob" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tk"))
      val cnt = tok.groupBy("tk").agg(count(lit(1)).as("cnt"))
      val stats = cnt.agg(sum(col("cnt")).as("t_total"),
        count(lit(1)).as("vocab"))
      tok.join(broadcast(cnt), Seq("tk"))
        .crossJoin(broadcast(stats))
        .withColumn("lp",
          log((col("cnt").cast("double") + lit(1.0)) /
            (col("t_total").cast("double") + col("vocab").cast("double"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), Num.dsum(col("lp")).as("lp_sum"))
        .withColumn("mean_lp", col("lp_sum") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }),

    // DSIR-style importance weights (data selection with importance
    // resampling): per-doc log importance Σ_w [ln p_target(w) −
    // ln p_proposal(w)] under add-one-smoothed unigram LMs — target =
    // the lang='en' slice, proposal = the whole corpus, shared union
    // vocab so both densities are defined everywhere. The published
    // recipe for "select web data that looks like the target corpus";
    // a resampler keeps docs ∝ exp(log_iw). Exactness: counts integer,
    // each token's term is ln of an exact rational minus ln of an exact
    // rational (t19's rule), accumulation decimal-exact. Scale shape:
    // ONE token-keyed count aggregate (both densities in one pass via
    // conditional sums), vocab broadcast back onto the token stream,
    // ONE doc-keyed fold — t19's plan with a second density riding along.
    "t33_dsir_weights" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), (col("lang") === "en").as("is_t"),
          explode(TextOps.tokens(col("text"))).as("tk"))
      val cnt = tok.groupBy("tk").agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cp"))
      val stats = cnt.agg(sum(col("ct")).as("tt"), sum(col("cp")).as("tp"),
        count(lit(1)).as("v"))
      tok.join(broadcast(cnt), Seq("tk"))
        .crossJoin(broadcast(stats))
        .withColumn("liw",
          log((col("ct").cast("double") + lit(1.0)) /
            (col("tt").cast("double") + col("v").cast("double"))) -
          log((col("cp").cast("double") + lit(1.0)) /
            (col("tp").cast("double") + col("v").cast("double"))))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), Num.dsum(col("liw")).as("log_iw"))
        .orderBy("doc_id")
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): doc
    // weight comes from its source tier (t14's mixture weights), the
    // priority key is −ln(u)/w with u a deterministic per-doc uniform from
    // the portable hash, and the k smallest keys win — inclusion odds are
    // proportional to weight, yet the draw is reproducible and
    // oracle-exact (t9's uniform quota is the w≡1 special case). Scale
    // shape: the key is a narrow per-row projection; global k-smallest is
    // orderBy+limit = TakeOrderedAndProject (per-partition top-k, one
    // k-sized merge — no global sort); the rank window runs on k rows.
    "t20_weighted_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("skey"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          (regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 4 + 1)
            .cast("double").as("wt"),
          // affine rehash: raw polyHash of "prefix|shortid" strings lands
          // in a few narrow bands (the digit tail never wraps P), which
          // would starve the uniform; one multiply by the Knuth constant
          // mod P spreads the bands across the field (t9's quota ranks
          // only need determinism, a weighted draw needs uniformity too)
          ((StableHash.polyHash(concat_ws("",
            lit("wsamp|"), col("doc_id").cast("string")))
            * lit(wsA) + lit(wsB)) % lit(StableHash.P)).as("__h"))
        .withColumn("skey",
          (-log((col("__h").cast("double") + lit(1.0)) /
            lit((StableHash.P + 1).toDouble)) / col("wt"))
            // per-row double crossing engines raw: ln drifts a last ulp
            // between libm builds, so the key is pinned to the Num
            // 6-decimal regime (messy full-width input → unambiguous
            // rounding) BEFORE it orders the draw
            .cast("decimal(18,6)").cast("double"))
        .orderBy(col("skey"), col("doc_id"))
        .limit(SampleK)
        .withColumn("rank", row_number().over(w).cast("int"))
        .select("doc_id", "source", "wt", "skey", "rank")
        .orderBy("doc_id")
    }),

    // Windowed co-occurrence → PMI (collocation mining over the corpus):
    // unordered token pairs within distance ≤ 2, scored
    // ln(p(a,b) / (p(a)·p(b))), top 50. Scale shape: the pair stream is
    // built NARROW (per-doc offset arrays — no positional self-join), is
    // ≤ 2N rows, and map-side combines into the pair-count shuffle; the
    // unigram table is |V| rows and broadcasts back onto the pair counts;
    // the top-50 is TakeOrdered, never a global sort. The pmi double is
    // pinned to the decimal(18,6) regime (t20 discipline: raw ln drifts a
    // last ulp across libm builds; it both orders and hashes here).
    "t21_pmi_pairs" -> ((s, d) => {
      val ts = col("ts")
      def pairsAt(o: Int) = when(size(ts) >= o + 1,
        transform(sequence(lit(1), size(ts) - o), i =>
          struct(
            least(element_at(ts, i), element_at(ts, i + o)).as("w1"),
            greatest(element_at(ts, i), element_at(ts, i + o)).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val toks = Tables.documents(s, d)
        .select(TextOps.tokens(col("text")).as("ts"))
      val cab = toks
        .select(explode(concat(pairsAt(1), pairsAt(2))).as("pr"))
        .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      val uni = toks.select(explode(ts).as("tk"))
        .groupBy("tk").agg(count(lit(1)).as("c_w"))
      // p_total = Σ c_ab, derived ARITHMETICALLY from per-doc lengths (a
      // doc of n tokens emits max(n−1,0) distance-1 + max(n−2,0)
      // distance-2 pairs) — summing cab itself would re-run the pair
      // explode + shuffle a second time, cab being unpersisted lineage
      val pTotal = toks.select(
        sum(greatest(size(ts) - 1, lit(0)).cast("long")
          + greatest(size(ts) - 2, lit(0)).cast("long")).as("p_total"))
      cab
        .join(broadcast(uni.select(col("tk").as("w1"), col("c_w").as("c_a"))), "w1")
        .join(broadcast(uni.select(col("tk").as("w2"), col("c_w").as("c_b"))), "w2")
        .crossJoin(broadcast(pTotal))
        .crossJoin(broadcast(uni.agg(sum(col("c_w")).as("n_total"))))
        .filter(col("c_ab") >= 5)
        .withColumn("pmi",
          log((col("c_ab").cast("double") * col("n_total").cast("double")
              * col("n_total").cast("double")) /
            (col("p_total").cast("double") * col("c_a").cast("double")
              * col("c_b").cast("double")))
            .cast("decimal(18,6)").cast("double"))
        .select("w1", "w2", "c_ab", "pmi")
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    }),

    // Per-doc n-gram novelty — the memorization-potential readout: what
    // fraction of a doc's distinct 8-grams has no earlier (smaller-id)
    // occurrence anywhere in the corpus. Low novelty = boilerplate /
    // near-copy even when no single pair crosses a dedup threshold. Same
    // gram spelling as t8 (one 8-gram definition across the
    // decontaminate/novelty family). Shape: explode distinct grams, ONE
    // gram-keyed min aggregate (the first-seer), join-back riding the
    // same gram partitioning, one doc-keyed roll-up; integer ppm, so
    // nothing floats. At 100 TB the gram strings would be fingerprinted
    // first (d9's knob) — the plan shape is unchanged.
    "t26_ngram_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // grams shuffle/sort as 64-bit fingerprints, not ~50-byte 8-gram
      // strings (t35's discipline, r11): the g-keyed aggregate exchanges
      // ~4× fewer bytes. The oracle applies the SAME fold, so even a
      // fingerprint collision (≈1e-7 here) is identical on both engines
      // and the gate stays exact.
      //
      // r12 (guide §2.4): the posting-scale JOIN-BACK is gone. Per-doc
      // grams are DISTINCT (array_distinct inside the generator), so
      // n_novel(doc) = |{g : min(doc_id over g) = doc}| — readable
      // straight off the first-seen aggregate with one doc-keyed
      // count (partial-combined to ≤|docs| rows per task before its
      // exchange) — and n_grams(doc) = size(gram array), computed
      // MAP-SIDE with no shuffle at all. The old spelling shuffled the
      // full posting stream a second time into a posting⋈first-seen SMJ
      // (two posting-scale sorts) just to re-derive those two counts.
      // NOTE the generator expression stays INLINE in explode():
      // materializing the gram array in a Project first turns this into
      // an attribute-explode, InferFiltersFromGenerate fires (it skips
      // expensive generator expressions, SPARK-36715 — but not attribute
      // references), and the inferred size()>0 filter gets substituted
      // back down to the scan with `split` re-inlined per element_at —
      // measured 2.0 s → 15.5 s before this was caught.
      // parallelize at the RAW-doc tier (1-task scan corpus; both the
      // first-seen branch and the map-side n_grams branch run the k=8
      // shingle chain, which would otherwise serialize on one core)
      val withTs = Dedup.parallelize(docs.select("doc_id", "text"))
        .select(col("doc_id"), split(col("text"), " ").as("__ts"))
      val firstSeen = withTs
        .select(col("doc_id"),
          explode(Dedup.shinglesFromTokens(col("__ts"), 8)).as("gs"))
        .select(col("doc_id"),
          graft.functions.StableHash.polyHash64(col("gs")).as("g"))
        .groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      val novel = firstSeen
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      withTs.select(col("doc_id"),
          size(Dedup.shinglesFromTokens(col("__ts"), 8)).cast("long")
            .as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
        .withColumn("novelty_ppm",
          when(col("n_grams") > 0, expr("(1000000 * n_novel) div n_grams")))
        .orderBy("doc_id")
    }),

    // Zipf slope per source — the corpus-health fingerprint: natural text
    // follows freq ∝ rank^s with s ≈ −1; machine-generated or template
    // floods bend the rank-frequency line. OLS of ln(freq) on ln(rank)
    // over each source's top-100 tokens. One token-keyed aggregate is the
    // only data-scale work; the rank cut is a per-source WindowGroupLimit
    // over the |vocab|-bounded count table; the regression inputs are ln
    // of exact integers (IEEE-identical cross-engine, t19's rule) summed
    // under the Num decimal pin, and the slope is one fixed double tree
    // quantized before it hashes.
    "t27_zipf_slope" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("freq").desc, col("token"))
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("freq"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 100)
        .select(col("source"), log(col("rnk").cast("double")).as("lx"),
          log(col("freq").cast("double")).as("ly"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_ranks"),
          Num.dsum(col("lx")).as("sx"), Num.dsum(col("ly")).as("sy"),
          Num.dsum(col("lx") * col("ly")).as("sxy"),
          Num.dsum(col("lx") * col("lx")).as("sxx"))
        .select(col("source"), col("n_ranks"),
          ((col("n_ranks").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (col("n_ranks").cast("double") * col("sxx") - col("sx") * col("sx")))
            .cast("decimal(18,6)").cast("double").as("zipf_slope"))
        .orderBy("source")
    }),

    // Lexical diversity per source — type-token ratio and hapax share,
    // the vocabulary-health companions to t27's zipf slope (a synthetic
    // or template-generated source shows a collapsed TTR and a starved
    // hapax share long before its zipf fit degrades). Same cost shape as
    // t27: ONE (source, token)-keyed aggregate is the only data-scale
    // work; the per-source roll-up runs over the vocab-bounded count
    // table. Integer ppm throughout (vocab > 0 always — a source with
    // zero docs has no row).
    "t28_lexical_diversity" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("freq"))
        .groupBy("source")
        .agg(sum(col("freq")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .withColumn("ttr_ppm", expr("(1000000 * n_types) div n_tokens"))
        .withColumn("hapax_ppm", expr("(1000000 * n_hapax) div n_types"))
        .orderBy("source")),

    // Vocabulary coverage curve readout — "how many types cover 50/90/99%
    // of the token mass" per source: the number a tokenizer-vocab sizing
    // or stopword-list decision actually consumes (t27's Zipf slope says
    // the tail is heavy; this says where to cut it). The only data-scale
    // work is the (source, token) count; the rank/cumulative window runs
    // over the vocab-bounded count table ordered (freq DESC, token) —
    // deterministic under ties — and each vocab row fans out to the 3
    // fixed thresholds before ONE bounded aggregate picks the minimal
    // qualifying rank (cum is monotone along rank, so min(cum) over
    // qualifying rows IS the coverage at that rank). All-integer output.
    "t29_vocab_coverage" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(col("freq").desc, col("token"))
      val ranked = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("freq"))
        .select(col("source"),
          row_number().over(w).cast("bigint").as("rnk"),
          sum(col("freq")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum"),
          sum(col("freq")).over(Window.partitionBy("source")).as("t"))
      ranked
        .select(col("source"), col("rnk"), col("cum"), col("t"),
          explode(array(lit(50L), lit(90L), lit(99L))).as("pct"))
        .filter(col("cum") * 100 >= col("t") * col("pct"))
        .groupBy("source", "pct")
        .agg(min(col("rnk")).as("n_types"),
          min(col("cum")).as("covered_tokens"),
          max(col("t")).as("total_tokens"))
        .orderBy("source", "pct")
    }),

    // Count-min sketch calibration — the d20/sim10 discipline applied to
    // the frequency tier: CM(W=1024, D=4) estimates vs exact counts for
    // the top-20 tokens, signed error in ppm (CM only overestimates, so
    // err ≥ 0; a loaded sketch reads honestly high — that's the report's
    // point). Distributed shape: the sketch IS a (row, cell)-keyed
    // aggregate — D·N narrow rows map-side combined into ≤ W·D = 4096
    // cells, so the exchange is bounded by the sketch, not the vocab
    // (hh1's MG bound, by different means). Probes join the 4096-row cell
    // table keyed; estimates = min over the D rows. Hashes are the
    // affine-rehashed polyHash family (minhash's), identical in the
    // generated oracle.
    "hh2_countmin_calibration" -> ((s, d) => {
      val params = StableHash.affineParams(CmD)
      def cellsOf(h: Column) = array(params.zipWithIndex.map {
        case ((a, b), i) =>
          struct(lit(i).as("r"),
            (((h * a + b) % StableHash.P) % CmW).as("cell"))
      }: _*)
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
      val cells = toks
        .select(explode(cellsOf(StableHash.polyHash(col("token")))).as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.cell").as("cell"))
        .agg(count(lit(1)).as("cnt"))
      val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(20)
      exact
        .select(col("token"), col("exact_n"),
          explode(cellsOf(StableHash.polyHash(col("token")))).as("rc"))
        .select(col("token"), col("exact_n"),
          col("rc.r").as("r"), col("rc.cell").as("cell"))
        .join(cells, Seq("r", "cell"))
        .groupBy("token", "exact_n")
        .agg(min(col("cnt")).as("cm_est"))
        .withColumn("err_ppm",
          expr("(1000000 * (cm_est - exact_n)) div exact_n"))
        .orderBy("token")
    }),

    // Bigram language-model cross-entropy per source — the quality scorer
    // a curation pipeline trains on one corpus half and applies to the
    // rest (the in-engine form of the CCNet-style "perplexity bucket"
    // signal). Train = even doc_ids, score = odd: add-one-smoothed
    // p(w2|w1) = (c12+1)/(c1+V), per-source mean −ln p. Scale shape: the
    // bigram pair stream is built narrow (t21's offset-array discipline —
    // no positional self-join); the bigram COUNT table is vocab²-scale so
    // its join back is keyed and deliberately unhinted (t24's df rule);
    // only the 1-row vocab size broadcasts. ln of exact rationals is
    // IEEE-identical cross-engine (t19 precedent); accumulation decimal.
    "t25_bigram_crossent" -> ((s, d) => {
      def bigrams(c: Column) = when(size(c) >= 2,
        transform(sequence(lit(1), size(c) - 1), i =>
          struct(element_at(c, i).as("w1"), element_at(c, i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.tokens(col("text")).as("ts"))
      val train = docs.filter(col("doc_id") % 2 === 0)
      val big = train.select(explode(bigrams(col("ts"))).as("pr"))
        .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val uni = train.select(explode(col("ts")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"),
          explode(bigrams(col("ts"))).as("pr"))
        .select(col("source"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
        .join(big, Seq("w1", "w2"), "left")
        .join(uni, Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("lp",
          log((coalesce(col("c12"), lit(0L)).cast("double") + lit(1.0)) /
            (coalesce(col("c1"), lit(0L)).cast("double")
              + col("v").cast("double"))))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"), Num.dsum(col("lp")).as("lp_sum"))
        .withColumn("mean_ce",
          -(col("lp_sum") / col("n_pairs").cast("double")))
        .orderBy("source")
    }),
  )

  // t20 draw size: well under the sf0.01 corpus (500 docs) so exclusion
  // actually happens, big enough that every weight tier is represented
  private val SampleK = 200
  // t20 affine rehash params (shared with the oracle SQL below)
  private val (wsA, wsB) = StableHash.affineParams(1).head

  // BM25 query-term set: mixed document frequencies exercise the IDF slope
  private val Bm25Terms = Seq("join", "vector", "scan", "filter")

  private def langidSql: String = {
    val scores = TextOps.langProfiles.map { case (l, p) =>
      val set = p.map(x => s"'$x'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(ts, t -> list_contains($set, t))) AS DOUBLE) / " +
        s"CAST(len(ts) AS DOUBLE) AS s_$l"
    }.mkString(",\n                 ")
    val g = TextOps.langProfiles.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = TextOps.langProfiles.map { case (l, _) =>
      s"WHEN s_$l = g THEN '$l'"
    }.mkString(" ")
    s"""WITH x AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
        s AS (SELECT doc_id, lang, $scores FROM x),
        m AS (SELECT *, $g AS g FROM s)
        SELECT doc_id, lang, CASE $cases END AS lang_pred
        FROM m ORDER BY doc_id"""
  }

  private def qualitySql: String =
    s"""WITH x AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
        c AS (SELECT doc_id,
                CAST(len(ts) AS INT) AS n_tokens,
                CAST(len(list_distinct(ts)) AS INT) AS n_distinct,
                CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
                  AS diversity,
                CAST(length(text) - (len(ts) - 1) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
                  AS mean_token_len,
                CAST(len(list_filter(ts, t -> list_contains(['the','a','and','of'], t)))
                     AS DOUBLE) / CAST(len(ts) AS DOUBLE) AS stopword_ratio
              FROM x)
        SELECT doc_id, n_tokens, n_distinct, diversity, mean_token_len, stopword_ratio,
               diversity * 0.6 + (1.0 - stopword_ratio) * 0.3
                 + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.1 AS quality
        FROM c ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "t19_unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                       FROM documents),
          c AS (SELECT tk, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tk),
          s AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_total,
                       CAST(count(*) AS BIGINT) AS vocab FROM c),
          j AS (SELECT t.doc_id,
                       ln((CAST(c.cnt AS DOUBLE) + 1.0) /
                          (CAST(s.t_total AS DOUBLE) + CAST(s.vocab AS DOUBLE))) AS lp
                FROM tok t JOIN c USING (tk) CROSS JOIN s)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 ${Num.sqlSum("lp")} AS lp_sum,
                 ${Num.sqlSum("lp")} / CAST(count(*) AS DOUBLE) AS mean_lp
          FROM j GROUP BY doc_id ORDER BY doc_id""",
    "t20_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, source,
                 CAST((CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4) + 1
                      AS DOUBLE) AS wt,
                 (${StableHash.polyHashSql(
        "concat('wsamp|', CAST(doc_id AS VARCHAR))")} * $wsA + $wsB)
                   % ${StableHash.P} AS hh
              FROM documents),
          k AS (SELECT doc_id, source, wt,
                       CAST(CAST(-ln((CAST(hh AS DOUBLE) + 1.0) /
                                     CAST(${StableHash.P + 1} AS DOUBLE)) / wt
                                 AS DECIMAL(18,6)) AS DOUBLE) AS skey
                FROM h),
          r AS (SELECT *, CAST(row_number() OVER (ORDER BY skey, doc_id) AS INT)
                          AS rank FROM k)
          SELECT doc_id, source, wt, skey, rank FROM r
          WHERE rank <= $SampleK ORDER BY doc_id""",
    "t5_hash_split" ->
      s"""SELECT doc_id,
                 CASE WHEN ${StableHash.polyHashSql(
        "concat('split|', CAST(doc_id AS VARCHAR))")} % 100 < 80
                      THEN 'train' ELSE 'test' END AS split
          FROM documents ORDER BY doc_id""",
    "t6_token_packing" ->
      """WITH x AS (SELECT doc_id, lang,
                           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
                    FROM documents),
          c AS (SELECT doc_id, lang, n_tokens,
                       CAST(sum(n_tokens) OVER (PARTITION BY lang
                                                ORDER BY doc_id) AS BIGINT) AS cum
                FROM x)
          SELECT doc_id, lang, n_tokens, (cum - n_tokens) // 512 AS pack_id
          FROM c ORDER BY doc_id""",
    "t1_langid" -> langidSql,
    "t33_dsir_weights" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_t,
                             unnest(string_split(text, ' ')) AS tk
                      FROM documents),
          c AS (SELECT tk,
                       CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                         AS ct,
                       CAST(count(*) AS BIGINT) AS cp
                FROM tok GROUP BY tk),
          st AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                        CAST(sum(cp) AS BIGINT) AS tp,
                        CAST(count(*) AS BIGINT) AS v
                 FROM c),
          j AS (SELECT tok.doc_id,
                       ln((CAST(ct AS DOUBLE) + 1.0)
                          / (CAST(tt AS DOUBLE) + CAST(v AS DOUBLE)))
                       - ln((CAST(cp AS DOUBLE) + 1.0)
                            / (CAST(tp AS DOUBLE) + CAST(v AS DOUBLE)))
                         AS liw
                FROM tok JOIN c USING (tk) CROSS JOIN st)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 ${Num.sqlSum("liw")} AS log_iw
          FROM j GROUP BY doc_id ORDER BY doc_id""",

    "t30_langid_confusion" ->
      s"""WITH p AS ($langidSql),
          cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
                    FROM p GROUP BY 1, 2),
          rt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n
                 FROM cells GROUP BY lang)
          SELECT lang, lang_pred, n, (1000000 * n) // row_n AS share_ppm
          FROM cells JOIN rt USING (lang)
          ORDER BY lang, lang_pred""",
    "t31_token_fertility" ->
      s"""WITH x AS (SELECT source,
                            CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
                            CAST(len(regexp_extract_all(text,
                              '${TextOps.bpeTokenPattern}')) AS BIGINT) AS bpe
                     FROM documents)
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(ws) AS BIGINT) AS ws_tokens,
                 CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
                 (1000000 * CAST(sum(bpe) AS BIGINT))
                   // CAST(sum(ws) AS BIGINT) AS fertility_ppm
          FROM x GROUP BY source ORDER BY source""",
    "t2_quality_score" -> qualitySql,
    "t3_token_counts" ->
      s"""SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
                 CAST(len(regexp_extract_all(text, '${TextOps.bpeTokenPattern}')) AS INT)
                   AS n_bpe_tokens,
                 CAST(length(text) AS INT) AS n_chars_computed
          FROM documents ORDER BY doc_id""",
    "t4_fingerprint" ->
      s"""SELECT doc_id, ${StableHash.polyHashSql("text")} AS fp
          FROM documents ORDER BY doc_id""",
    "t7_pii_redact" -> {
      val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com ping 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 call +' || CAST(doc_id + 100000000 AS VARCHAR)"
      s"""WITH a AS (SELECT doc_id, $aug AS t FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t, '${TextOps.emailRe}')) AS INT) AS n_emails,
                 CAST(len(regexp_extract_all(t, '${TextOps.ipv4Re}')) AS INT) AS n_ips,
                 CAST(len(regexp_extract_all(t, '${TextOps.phoneRe}')) AS INT) AS n_phones,
                 regexp_replace(regexp_replace(regexp_replace(t,
                   '${TextOps.emailRe}', '<EMAIL>', 'g'),
                   '${TextOps.ipv4Re}', '<IP>', 'g'),
                   '${TextOps.phoneRe}', '<PHONE>', 'g') AS redacted
          FROM a ORDER BY doc_id""" },
    "t8_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          i AS (SELECT doc_id, ts,
                       unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS i
                FROM t),
          n AS (SELECT DISTINCT doc_id,
                       array_to_string(list_slice(ts, i, i + 7), ' ') AS g
                FROM i),
          b AS (SELECT DISTINCT g FROM n WHERE doc_id % 10 = 0),
          h AS (SELECT n.doc_id, count(DISTINCT n.g) AS n_hits
                FROM n JOIN b USING (g) WHERE n.doc_id % 10 <> 0
                GROUP BY n.doc_id)
          SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                 coalesce(h.n_hits, 0) > 0 AS contaminated
          FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
          WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""",
    "t22_contamination_report" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          i AS (SELECT doc_id, ts,
                       unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS i
                FROM t),
          n AS (SELECT DISTINCT doc_id,
                       array_to_string(list_slice(ts, i, i + 7), ' ') AS g
                FROM i),
          b AS (SELECT DISTINCT g FROM n WHERE doc_id % 10 = 0),
          h AS (SELECT n.doc_id, count(DISTINCT n.g) AS n_hits
                FROM n JOIN b USING (g) WHERE n.doc_id % 10 <> 0
                GROUP BY n.doc_id)
          SELECT d.source,
                 CAST(count(*) AS INT) AS n_docs,
                 CAST(count(h.n_hits) AS INT) AS n_contaminated,
                 CAST(count(h.n_hits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS contamination_rate,
                 CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS n_overlap_grams
          FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
          WHERE d.doc_id % 10 <> 0
          GROUP BY d.source ORDER BY d.source""",
    "t9_domain_quota" ->
      s"""WITH x AS (SELECT doc_id, source,
                 ${StableHash.polyHashSql("concat('quota|', CAST(doc_id AS VARCHAR))")} AS h
              FROM documents),
          r AS (SELECT doc_id, source,
                       CAST(row_number() OVER (PARTITION BY source
                                               ORDER BY h, doc_id) AS INT) AS quota_rank
                FROM x)
          SELECT doc_id, source, quota_rank FROM r
          WHERE quota_rank <= 10 ORDER BY doc_id""",
    "t10_repetition" ->
      """WITH t AS (SELECT doc_id,
                 string_split(CASE WHEN doc_id % 5 = 0
                   THEN text || ' ' ||
                        array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')
                   ELSE text END, ' ') AS ts
               FROM documents),
          i AS (SELECT doc_id, ts,
                       unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS i
                FROM t),
          g AS (SELECT doc_id,
                       count(DISTINCT array_to_string(list_slice(ts, i, i + 4), ' '))
                         AS n_distinct
                FROM i GROUP BY doc_id),
          c AS (SELECT t.doc_id,
                       CAST(greatest(len(t.ts) - 4, 0) AS INT) AS n_grams,
                       CAST(coalesce(g.n_distinct, 0) AS INT) AS n_distinct
                FROM t LEFT JOIN g ON t.doc_id = g.doc_id)
          SELECT doc_id, n_grams, n_distinct,
                 CASE WHEN n_grams > 0
                      THEN CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE)
                                               / CAST(n_grams AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END AS repetition,
                 CASE WHEN n_grams > 0
                      THEN (CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE)
                                                / CAST(n_grams AS DOUBLE)) > 0.1
                      ELSE false END AS repetitive
          FROM c ORDER BY doc_id""",
    "t11_gopher_rules" -> {
      val stops = TextOps.gopherStopwords.map(x => s"'$x'").mkString("[", ", ", "]")
      s"""WITH x AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          c AS (SELECT doc_id,
                  CAST(len(ts) AS INT) AS n_words,
                  CAST(list_aggregate(list_transform(ts, w -> length(w)), 'sum')
                       AS DOUBLE) / CAST(len(ts) AS DOUBLE) AS mean_word_len,
                  CAST(len(list_filter(ts, w -> list_contains($stops, w)))
                       AS INT) AS stop_count
                FROM x)
          SELECT doc_id, n_words, mean_word_len, stop_count,
                 (n_words BETWEEN 30 AND 90) AS words_ok,
                 (mean_word_len BETWEEN 4.0 AND 5.0) AS word_len_ok,
                 (stop_count >= 2) AS stop_ok,
                 ((n_words BETWEEN 30 AND 90)
                  AND (mean_word_len BETWEEN 4.0 AND 5.0)
                  AND (stop_count >= 2)) AS keep
          FROM c ORDER BY doc_id"""
    },
    "tp1_text_pipeline" -> {
      val stops = TextOps.gopherStopwords.map(x => s"'$x'").mkString("[", ", ", "]")
      val cfg = graft.ops.TextPipeline.Config()
      val bits = cfg.bits
      s"""WITH x AS (SELECT doc_id, source, text, string_split(text, ' ') AS ts
                     FROM documents),
          c AS (SELECT doc_id, source, text FROM x
                WHERE len(ts) BETWEEN 30 AND 90
                  AND (CAST(list_aggregate(list_transform(ts, w -> length(w)), 'sum')
                            AS DOUBLE) / CAST(len(ts) AS DOUBLE)) BETWEEN 4.0 AND 5.0
                  AND len(list_filter(ts, w -> list_contains($stops, w))) >= 2),
          tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM c),
          th AS (SELECT doc_id, ${StableHash.polyHashSql("tk")} AS th FROM tok),
          sh AS (SELECT doc_id, ${graft.ops.Dedup.simhashBitSumsSql(bits)}
                 FROM th GROUP BY doc_id),
          f AS (SELECT doc_id, ${graft.ops.Dedup.simhashFpSql(bits)} AS simhash FROM sh),
          dd AS (SELECT c.doc_id, c.source, f.simhash FROM c JOIN f USING (doc_id)
                 QUALIFY row_number() OVER (PARTITION BY simhash ORDER BY doc_id) = 1),
          q AS (SELECT doc_id, source, simhash FROM dd
                QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id)
                        <= ${cfg.capPerSource}),
          hs AS (SELECT doc_id, source, simhash,
                        ${StableHash.polyHashSql(
        "concat('shuffle|', CAST(doc_id AS VARCHAR))")} AS h
                 FROM q)
          SELECT doc_id, source, simhash,
                 CAST(h % ${cfg.nShards} AS INT) AS shard,
                 CAST(row_number() OVER (PARTITION BY h % ${cfg.nShards}
                                         ORDER BY h, doc_id) AS INT) AS pos
          FROM hs ORDER BY doc_id"""
    },
    "tp2_mixture_pipeline" -> {
      val stops = TextOps.gopherStopwords.map(x => s"'$x'").mkString("[", ", ", "]")
      val cfg = graft.ops.TextPipeline.Config()
      val bits = cfg.bits
      s"""WITH x AS (SELECT doc_id, source, text, string_split(text, ' ') AS ts
                     FROM documents),
          c AS (SELECT doc_id, source, text FROM x
                WHERE len(ts) BETWEEN 30 AND 90
                  AND (CAST(list_aggregate(list_transform(ts, w -> length(w)), 'sum')
                            AS DOUBLE) / CAST(len(ts) AS DOUBLE)) BETWEEN 4.0 AND 5.0
                  AND len(list_filter(ts, w -> list_contains($stops, w))) >= 2),
          tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM c),
          th AS (SELECT doc_id, ${StableHash.polyHashSql("tk")} AS th FROM tok),
          sh AS (SELECT doc_id, ${graft.ops.Dedup.simhashBitSumsSql(bits)}
                 FROM th GROUP BY doc_id),
          f AS (SELECT doc_id, ${graft.ops.Dedup.simhashFpSql(bits)} AS simhash FROM sh),
          dd AS (SELECT c.doc_id, c.source, f.simhash FROM c JOIN f USING (doc_id)
                 QUALIFY row_number() OVER (PARTITION BY simhash ORDER BY doc_id) = 1),
          q AS (SELECT doc_id, source, simhash FROM dd
                QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id)
                        <= ${cfg.capPerSource}),
          mx AS (SELECT doc_id, source,
                   1 + CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4 AS weight
                 FROM q),
          e AS (SELECT doc_id, source,
                  CAST(unnest(range(weight)) AS INT) AS epoch FROM mx),
          hs AS (SELECT doc_id, source, epoch,
                   ${StableHash.polyHashSql(
        "concat('shuffle|', CAST(doc_id AS VARCHAR), '|', CAST(epoch AS VARCHAR))")} AS h
                 FROM e)
          SELECT doc_id, source, epoch,
                 CAST(h % ${cfg.nShards} AS INT) AS shard,
                 CAST(row_number() OVER (PARTITION BY h % ${cfg.nShards}
                                         ORDER BY h, doc_id, epoch) AS INT) AS pos
          FROM hs ORDER BY doc_id, epoch"""
    },
    "t13_shuffle_shard" ->
      s"""WITH h AS (SELECT doc_id,
                 ${StableHash.polyHashSql("concat('shuffle|', CAST(doc_id AS VARCHAR))")} AS h
               FROM documents)
          SELECT doc_id, CAST(h % 8 AS INT) AS shard,
                 CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                      AS INT) AS pos
          FROM h ORDER BY doc_id""",
    "t14_source_mixture" ->
      s"""WITH w AS (SELECT doc_id, source,
                 1 + CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4 AS weight
               FROM documents)
          SELECT doc_id, source, weight,
                 CAST(unnest(range(weight)) AS INT) AS epoch
          FROM w ORDER BY doc_id, epoch""",
    "dq2_quarantine" ->
      """SELECT doc_id,
                concat_ws(',',
                  CASE WHEN text IS NULL THEN 'not_null_text' END,
                  CASE WHEN n_chars < 1 OR n_chars > 400 THEN 'range_n_chars' END,
                  CASE WHEN lang IS NOT NULL
                         AND NOT regexp_full_match(lang, '(?:en|de|fr)')
                       THEN 'matches_lang' END) AS failed_checks,
                concat_ws(',',
                  CASE WHEN text IS NULL THEN 'not_null_text' END,
                  CASE WHEN n_chars < 1 OR n_chars > 400 THEN 'range_n_chars' END,
                  CASE WHEN lang IS NOT NULL
                         AND NOT regexp_full_match(lang, '(?:en|de|fr)')
                       THEN 'matches_lang' END) = '' AS is_clean
         FROM documents ORDER BY doc_id""",
    "dq1_audit" ->
      """WITH s AS (SELECT count(*) AS n_rows,
                CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS v_notnull,
                CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT) AS v_unique,
                CAST(count(CASE WHEN n_chars < 1 OR n_chars > 400 THEN 1 END) AS BIGINT) AS v_range,
                CAST(count(CASE WHEN lang IS NOT NULL
                       AND NOT regexp_full_match(lang, '(?:en|de|fr)') THEN 1 END) AS BIGINT) AS v_lang
              FROM documents)
         SELECT 'not_null_text' AS "check", v_notnull AS violations, n_rows FROM s
         UNION ALL SELECT 'unique_doc_id', v_unique, n_rows FROM s
         UNION ALL SELECT 'range_n_chars', v_range, n_rows FROM s
         UNION ALL SELECT 'matches_lang', v_lang, n_rows FROM s
         ORDER BY "check"""",
    "hh1_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                      FROM documents),
         c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
         n AS (SELECT count(*) AS total FROM tok)
         SELECT token, cnt FROM c, n WHERE cnt * 32 >= total ORDER BY token""",
    "t15_curriculum" ->
      """WITH x AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                    FROM documents),
         c AS (SELECT doc_id, source,
                 CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
                   AS diversity,
                 CAST(len(list_filter(ts, t -> list_contains(['the','a','and','of'], t)))
                      AS DOUBLE) / CAST(len(ts) AS DOUBLE) AS stopword_ratio,
                 CAST(len(ts) AS INT) AS n_tokens
               FROM x),
         q AS (SELECT doc_id, source,
                 diversity * 0.6 + (1.0 - stopword_ratio) * 0.3
                   + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.1 AS quality
               FROM c)
         SELECT doc_id, source,
                CAST(ntile(4) OVER (PARTITION BY source
                       ORDER BY quality, doc_id) AS INT) AS phase
         FROM q ORDER BY doc_id""",
    "t24_tfidf_topk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM t),
          e AS (SELECT doc_id, unnest(ts) AS term FROM t),
          tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                 FROM e GROUP BY doc_id, term),
          df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                 FROM tf GROUP BY term),
          sc AS (SELECT doc_id, term, tf,
                        CAST(CAST(CAST(tf AS DOUBLE) *
                                  ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                             AS DECIMAL(18,6)) AS DOUBLE) AS tfidf
                 FROM tf JOIN df USING (term) CROSS JOIN n)
          SELECT doc_id, term, tf, tfidf, CAST(rnk AS INT) AS rnk FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, term) AS rnk FROM sc)
          WHERE rnk <= 3
          ORDER BY doc_id, rnk""",
    "t23_quantile_normalize" ->
      """WITH x AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                    FROM documents),
         c AS (SELECT doc_id, source,
                 CAST(len(list_distinct(ts)) AS DOUBLE) / CAST(len(ts) AS DOUBLE)
                   AS diversity,
                 CAST(len(list_filter(ts, t -> list_contains(['the','a','and','of'], t)))
                      AS DOUBLE) / CAST(len(ts) AS DOUBLE) AS stopword_ratio,
                 CAST(len(ts) AS INT) AS n_tokens
               FROM x),
         q AS (SELECT doc_id, source,
                 diversity * 0.6 + (1.0 - stopword_ratio) * 0.3
                   + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.1 AS quality
               FROM c)
         SELECT doc_id, source, quality,
                percent_rank() OVER (PARTITION BY source
                  ORDER BY quality, doc_id) AS q_pct
         FROM q ORDER BY doc_id""",
    "t16_outlier_filter" ->
      """WITH st AS (SELECT source,
                quantile_cont(n_chars, 0.05) AS lo,
                quantile_cont(n_chars, 0.95) AS hi
              FROM documents GROUP BY source)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN st USING (source)
         WHERE d.n_chars >= st.lo AND d.n_chars <= st.hi
         ORDER BY d.doc_id""",
    "t12_term_df_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                      FROM documents),
          dfreq AS (SELECT tk, count(DISTINCT doc_id) AS df FROM tok GROUP BY tk),
          j AS (SELECT t.doc_id, d.df FROM tok t JOIN dfreq d USING (tk))
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(df) AS BIGINT) AS df_sum,
                 CAST(sum(df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df
          FROM j GROUP BY doc_id ORDER BY doc_id""",
    "t18_bm25" -> bm25Sql,
    // exact semantics, no bloom: the sketch is a plan optimization, and
    // hash-matching this proves exactly that
    "t17_bloom_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          i AS (SELECT doc_id, ts,
                       unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS i
                FROM t),
          n AS (SELECT DISTINCT doc_id,
                       array_to_string(list_slice(ts, i, i + 7), ' ') AS g
                FROM i),
          b AS (SELECT DISTINCT g FROM n WHERE doc_id % 10 = 0),
          c AS (SELECT DISTINCT n.doc_id FROM n JOIN b USING (g)
                WHERE n.doc_id % 10 <> 0)
          SELECT d.doc_id, d.source FROM documents d
          WHERE d.doc_id % 10 <> 0
            AND d.doc_id NOT IN (SELECT doc_id FROM c)
          ORDER BY d.doc_id""",
    "t21_pmi_pairs" ->
      """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
          p1 AS (SELECT least(ts[i], ts[i + 1]) AS w1,
                        greatest(ts[i], ts[i + 1]) AS w2
                 FROM (SELECT ts, unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
                       FROM t)),
          p2 AS (SELECT least(ts[i], ts[i + 2]) AS w1,
                        greatest(ts[i], ts[i + 2]) AS w2
                 FROM (SELECT ts, unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
                       FROM t)),
          pr AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
          cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
                  FROM pr GROUP BY w1, w2),
          uni AS (SELECT tk, CAST(count(*) AS BIGINT) AS c_w
                  FROM (SELECT unnest(ts) AS tk FROM t) GROUP BY tk),
          tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS p_total FROM cab),
          nt AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total FROM uni)
          SELECT c.w1, c.w2, c.c_ab,
                 CAST(CAST(ln((CAST(c.c_ab AS DOUBLE) * CAST(n.n_total AS DOUBLE)
                               * CAST(n.n_total AS DOUBLE)) /
                              (CAST(tt.p_total AS DOUBLE) * CAST(a.c_w AS DOUBLE)
                               * CAST(b.c_w AS DOUBLE)))
                      AS DECIMAL(18,6)) AS DOUBLE) AS pmi
          FROM cab c JOIN uni a ON c.w1 = a.tk JOIN uni b ON c.w2 = b.tk
          CROSS JOIN tot tt CROSS JOIN nt n
          WHERE c.c_ab >= 5
          ORDER BY pmi DESC, c.w1, c.w2 LIMIT 50""",
    "t26_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          i AS (SELECT doc_id, ts,
                       unnest(generate_series(1, greatest(len(ts) - 7, 0))) AS i
                FROM t),
          ns AS (SELECT DISTINCT doc_id,
                        array_to_string(list_slice(ts, i, i + 7), ' ') AS gs
                 FROM i),
          -- hash AFTER the per-doc distinct (the Spark side dedups the
          -- STRING shingles per doc, then fingerprints)
          n AS (SELECT doc_id,
                       ${graft.functions.StableHash.polyHash64Sql("gs")} AS g
                FROM ns),
          fs AS (SELECT g, CAST(min(doc_id) AS BIGINT) AS first_doc
                 FROM n GROUP BY g),
          per AS (SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                         CAST(sum(CASE WHEN fs.first_doc = n.doc_id
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                  FROM n JOIN fs USING (g) GROUP BY n.doc_id)
          SELECT d.doc_id,
                 CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                 CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
                 CASE WHEN coalesce(p.n_grams, 0) > 0
                      THEN CAST((1000000 * p.n_novel) // p.n_grams AS BIGINT)
                 END AS novelty_ppm
          FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
          ORDER BY d.doc_id""",
    "t27_zipf_slope" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
                       FROM documents),
          c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS freq
                FROM tok GROUP BY source, token),
          r AS (SELECT source, freq,
                       row_number() OVER (PARTITION BY source
                         ORDER BY freq DESC, token) AS rnk
                FROM c),
          l AS (SELECT source, ln(CAST(rnk AS DOUBLE)) AS lx,
                       ln(CAST(freq AS DOUBLE)) AS ly
                FROM r WHERE rnk <= 100),
          a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
                       ${Num.sqlSum("lx")} AS sx, ${Num.sqlSum("ly")} AS sy,
                       ${Num.sqlSum("lx * ly")} AS sxy,
                       ${Num.sqlSum("lx * lx")} AS sxx
                FROM l GROUP BY source)
          SELECT source, n_ranks,
                 CAST(CAST((CAST(n_ranks AS DOUBLE) * sxy - sx * sy) /
                           (CAST(n_ranks AS DOUBLE) * sxx - sx * sx)
                      AS DECIMAL(18,6)) AS DOUBLE) AS zipf_slope
          FROM a ORDER BY source""",
    "t28_lexical_diversity" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
                      FROM documents),
         c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS freq
               FROM tok GROUP BY source, token),
         a AS (SELECT source,
                      CAST(sum(freq) AS BIGINT) AS n_tokens,
                      CAST(count(*) AS BIGINT) AS n_types,
                      CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_hapax
               FROM c GROUP BY source)
         SELECT source, n_tokens, n_types, n_hapax,
                CAST((1000000 * n_types) // n_tokens AS BIGINT) AS ttr_ppm,
                CAST((1000000 * n_hapax) // n_types AS BIGINT) AS hapax_ppm
         FROM a ORDER BY source""",
    "t29_vocab_coverage" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
                      FROM documents),
         c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS freq
               FROM tok GROUP BY source, token),
         r AS (SELECT source,
                      CAST(row_number() OVER w AS BIGINT) AS rnk,
                      CAST(sum(freq) OVER (PARTITION BY source
                        ORDER BY freq DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum,
                      CAST(sum(freq) OVER (PARTITION BY source)
                        AS BIGINT) AS t
               FROM c
               WINDOW w AS (PARTITION BY source ORDER BY freq DESC, token)),
         e AS (SELECT source, rnk, cum, t,
                      CAST(unnest([50, 90, 99]) AS BIGINT) AS pct
               FROM r)
         SELECT source, pct,
                CAST(min(rnk) AS BIGINT) AS n_types,
                CAST(min(cum) AS BIGINT) AS covered_tokens,
                CAST(max(t) AS BIGINT) AS total_tokens
         FROM e WHERE cum * 100 >= t * pct
         GROUP BY source, pct ORDER BY source, pct""",
    "hh2_countmin_calibration" -> {
      val params = StableHash.affineParams(CmD)
      val ph = StableHash.polyHashSql("token")
      def cellRows(src: String, extra: String) =
        params.zipWithIndex.map { case ((a, b), i) =>
          s"SELECT $extra$i AS r, ((h * $a + $b) % ${StableHash.P}) % $CmW " +
            s"AS cell FROM $src"
        }.mkString(" UNION ALL ")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents),
          th AS (SELECT $ph AS h FROM tok),
          rc AS (${cellRows("th", "")}),
          cells AS (SELECT r, cell, CAST(count(*) AS BIGINT) AS cnt
                    FROM rc GROUP BY r, cell),
          exact AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_n
                    FROM tok GROUP BY token
                    ORDER BY exact_n DESC, token LIMIT 20),
          eh AS (SELECT token, exact_n, $ph AS h FROM exact),
          pe AS (${cellRows("eh", "token, exact_n, ")}),
          est AS (SELECT pe.token, pe.exact_n,
                         CAST(min(c.cnt) AS BIGINT) AS cm_est
                  FROM pe JOIN cells c ON pe.r = c.r AND pe.cell = c.cell
                  GROUP BY pe.token, pe.exact_n)
          SELECT token, exact_n, cm_est,
                 CAST((1000000 * (cm_est - exact_n)) // exact_n AS BIGINT)
                   AS err_ppm
          FROM est ORDER BY token"""
    },
    "t25_bigram_crossent" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ts
                     FROM documents),
          bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
                 FROM (SELECT ts, unnest(generate_series(1,
                         greatest(len(ts) - 1, 0))) AS i
                       FROM t WHERE doc_id % 2 = 0)),
          big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                  FROM bg GROUP BY w1, w2),
          uni AS (SELECT tk AS w1, CAST(count(*) AS BIGINT) AS c1
                  FROM (SELECT unnest(ts) AS tk FROM t WHERE doc_id % 2 = 0)
                  GROUP BY tk),
          vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
          sp AS (SELECT source, ts[i] AS w1, ts[i + 1] AS w2
                 FROM (SELECT source, ts, unnest(generate_series(1,
                         greatest(len(ts) - 1, 0))) AS i
                       FROM t WHERE doc_id % 2 = 1)),
          j AS (SELECT sp.source,
                       ln((CAST(coalesce(big.c12, 0) AS DOUBLE) + 1.0) /
                          (CAST(coalesce(uni.c1, 0) AS DOUBLE)
                           + CAST(vs.v AS DOUBLE))) AS lp
                FROM sp LEFT JOIN big USING (w1, w2)
                        LEFT JOIN uni USING (w1)
                        CROSS JOIN vs)
          SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
                 ${Num.sqlSum("lp")} AS lp_sum,
                 -(${Num.sqlSum("lp")} / CAST(count(*) AS DOUBLE)) AS mean_ce
          FROM j GROUP BY source ORDER BY source""",
  )

  /** t18's core, shared with the cross-pack RRF fusion (sr1): BM25 scores
    * for [[Bm25Terms]] over every doc containing at least one query term.
    * Unordered — each call site picks its own order/cut.
    */
  private[queries] def bm25Frame(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__ts"))
      .select(col("doc_id"), col("__ts"),
        size(col("__ts")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("__ts")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("ts_",
        log(((col("n_docs").cast("double") - col("df").cast("double")
            + lit(0.5)) / (col("df").cast("double") + lit(0.5))) + lit(1.0))
          * ((col("tf").cast("double") * lit(2.2))
            / (col("tf").cast("double") + lit(1.2) * (lit(1.0) - lit(0.75)
              + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"),
        Num.dsum(col("ts_")).as("bm25"))
  }

  private[queries] def bm25Sql: String = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        d AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS dl FROM t),
        s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
        e AS (SELECT doc_id, dl, unnest(ts) AS term FROM d),
        tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
               FROM e WHERE term IN ($inList) GROUP BY doc_id, dl, term),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        x AS (SELECT tf.doc_id,
                     ln(((CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                         / (CAST(df.df AS DOUBLE) + 0.5)) + 1.0)
                     * ((CAST(tf.tf AS DOUBLE) * 2.2)
                        / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
                          + 0.75 * (CAST(tf.dl AS DOUBLE)
                            / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) AS ts_
              FROM tf JOIN df USING (term) CROSS JOIN s)
        SELECT doc_id, CAST(count(*) AS INT) AS n_terms,
               ${Num.sqlSum("ts_")} AS bm25
        FROM x GROUP BY doc_id ORDER BY doc_id"""
  }
}
