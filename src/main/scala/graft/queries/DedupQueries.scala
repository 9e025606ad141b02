package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.StableHash
import graft.ops.{Dedup, TextOps}

/** Deduplication pack (builder-prompt extension) over `documents`:
  * exact, keep-first, MinHash signatures, LSH candidate pairs, SimHash,
  * inverted-index n-gram Jaccard. Oracle SQL is machine-generated from the
  * SAME hash constants ([[StableHash]]), so Spark and DuckDB compute the
  * identical signatures.
  */
object DedupQueries extends QueryPack {

  private val K = 3          // shingle width (words)
  private val SIG = 16       // minhash signature width
  // d24's absolute sweep sample (sim10/CENT_CAP rule): covers every gate
  // corpus's full doc_id range (sf0.1 max = 49,999), fixed beyond it
  private val SweepCap = 100000
  // LSH banding geometry. rows = 2: a candidate pair must agree on BOTH
  // minhashes of a band (collision prob per band = J², not J). rows = 1
  // was "sized for the synthetic corpus" and died at the sf10 scale
  // probe: a single min-statistic is heavily concentrated (every doc
  // containing the corpus's lowest-hashing common shingle shares it), so
  // one-minhash buckets chain random docs — measured at sf10: 1.62M
  // candidate pairs whose union-find forms a 332,914-doc GIANT COMPONENT
  // (66% of the corpus in one "dup group", CC needs >30 rounds). With
  // rows = 2 the same corpus yields 559k pairs, largest component 30,
  // and sf0.01 keeps 85 pairs / 59 groups — still provably non-vacuous.
  // The standard web-scale tuning (r grows with corpus) — recorded in
  // PLANS.md.
  private val BANDS = 2
  private val ROWS = 2
  private val BITS = 32      // simhash width
  private val CHUNK = 16     // chunk-dedup paragraph width (tokens)
  private val SPAN_K = 13    // span-dedup window (tokens) — the classic
                             //   exact-substring dedup gram width

  // d14's split coin: same affine family as st1/f12b (one definition,
  // both engines), distinct "split|" prefix
  private val (sA, sB) = StableHash.affineParams(1).head

  // Shared dup-labels base for the connected-components family (d7
  // groups, d8 apply, d14 split): the expensive part — LSH candidate
  // pairs + the iterative CC loop — runs ONCE per (session, dir, file set)
  // behind a cache-and-release memo ([[graft.ops.SharedBase]],
  // triangle-family discipline); each family member then pays only its
  // own cheap tail (a sort, a group-size aggregate, a split map). The
  // returned frame is `docs ⟕ labels` over CC's internally-cached final
  // label table — that single checkpoint root is what eviction releases;
  // construction is eager (the CC loop's convergence checks run jobs),
  // index-build discipline like IVF/PQ training.
  private val dupLabelsCache = new graft.ops.SharedBase[DataFrame](
    // construction is EAGER (the CC loop's convergence checks run jobs),
    // so the default no-op materializer already leaves the honest build
    // cost inside the timed window Bench records as builds["dup_labels"]
    name = "dup_labels",
    build = (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshPairs(docs, "doc_id", col("text"), K, BANDS, ROWS)
      Dedup.connectedComponents(docs, pairs, "doc_id", "id1", "id2")
        .withColumnRenamed("id", "doc_id")
    },
    release = graft.ops.Blocks.unpersist)

  private def dupLabels(s: SparkSession, d: String): DataFrame =
    dupLabelsCache.get(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))
        .orderBy("text_sha")),

    "d2_keep_first" -> ((s, d) =>
      Dedup.keepFirst(Tables.documents(s, d), Seq("lang", "source"),
        Seq(col("doc_id")))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "d3_minhash_signatures" -> ((s, d) => {
      val hashed = Dedup.hashedShingles(Tables.documents(s, d),
        col("text"), K, Seq(col("doc_id")))
      Dedup.withMinhashSigs(hashed.select(col("doc_id"), col("__hs")),
          col("__hs"), SIG)
        .drop("__hs")
        .orderBy("doc_id")
    }),

    "d4_lsh_candidate_pairs" -> ((s, d) =>
      Dedup.lshPairs(Tables.documents(s, d), "doc_id", col("text"),
        K, BANDS, ROWS)
        .orderBy("id1", "id2")),

    // Dedup GROUPS: LSH pairs → connected components; every doc gets its
    // canonical (minimum reachable) doc_id. The step production dedup runs
    // after candidate generation — pairs alone aren't a dedup decision.
    "d7_dup_groups" -> ((s, d) =>
      dupLabels(s, d).orderBy("doc_id")),

    // d7's CROSS-SESSION form: the CC label table served from the
    // content-keyed parquet store ([[graft.ops.PersistedBase]]). The
    // SharedBase memo makes the second query of a SESSION free; this
    // makes the second session free — a fresh JVM pays one key probe
    // (one column-pruned aggregate over (doc_id, text), memoized in the
    // table catalog for the rest of the session) + a small parquet
    // read instead of the full LSH + iterative-CC build (measured at
    // sf0.1: build 4.2 s, warm store serve ~0.3 s). Invalidation = the
    // content key: any doc insert/delete/edit changes it and the entry
    // rebuilds; text rides the key because the labels derive from text
    // (a stale-text store would serve wrong groups). Store hygiene and
    // the production zero-scan variant (snapshot id + d15 anti-join
    // refresh for appends) are documented on PersistedBase.
    "d7b_dup_groups_persisted" -> ((s, d) => {
      val key = Tables.contentKey(s, d, "documents", "doc_id", "text")
      // cold build goes THROUGH the in-session memo, so a session running
      // both d7 and d7b builds the CC labels exactly once
      // version 1 = the r9 dupLabels closure (MinHash banding + CC);
      // bump on ANY semantic change to that chain (PersistedBase rule)
      graft.ops.PersistedBase.getOrBuild(s, "dup_labels", key, version = 1) {
        dupLabels(s, d)
      }.orderBy("doc_id")
    }),

    // Dedup APPLY: the corpus rewrite that dedup exists for — keep each
    // group's canonical (minimum-id) member, drop the rest, and audit how
    // many near-dups each survivor absorbed. Same CC labels as d7 plus one
    // keyed join; no broadcast (survivors ≈ corpus size at scale).
    "d8_dedup_apply" -> ((s, d) => {
      val sizes = dupLabels(s, d)
        .groupBy(col("component"))
        .agg(count(lit(1)).cast("int").as("group_size"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .join(sizes, col("doc_id") === col("component"))
        .drop("component")
        .orderBy("doc_id")
    }),

    // Leakage-safe train/val/test split: the split coin is a hash of the
    // dup COMPONENT, not the doc — every member of a near-dup group lands
    // in the same split by construction, so eval can never score a
    // training-set near-copy (the standard contamination-through-split
    // failure of row-level splitting). Cost over d7: one narrow map.
    // 80/10/10; row-local and engine-independent like st1/f12b, so the
    // assignment is reproducible on any cluster layout.
    "d14_leakage_safe_split" -> ((s, d) => {
      val u = ((StableHash.polyHash(concat_ws("",
        lit("split|"), col("component").cast("string")))
        * lit(sA) + lit(sB)) % lit(StableHash.P) + lit(1.0))
        .cast("double") / lit((StableHash.P + 1).toDouble)
      dupLabels(s, d)
        .withColumn("split",
          when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test"))
        .orderBy("doc_id")
    }),

    "d5_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d), "doc_id", col("text"), BITS)
        .orderBy("doc_id")),

    // Fingerprint-keyed ingest dedup: content-defined (simhash) key, keep
    // the earliest doc per fingerprint — the batch form of dropDuplicates
    // on a computed content hash at ingest (98/500 docs collide at
    // sf0.01). One shuffle on the fingerprint; the streaming twin is
    // StreamOps.dedup's dropDuplicates shape on the same key.
    "d9_fingerprint_dedup" -> ((s, d) =>
      Dedup.keepFirst(
        Dedup.simhash(Tables.documents(s, d), "doc_id", col("text"), BITS),
        Seq("simhash"), Seq(col("doc_id")))
        .select("doc_id", "simhash")
        .orderBy("doc_id")),

    // Incremental INGEST dedup — the production shape at 100 TB: a new
    // batch is never deduped against the raw historical corpus (a re-scan
    // of everything per ingest) but against the compact fingerprint STORE
    // the d9 pass maintains. Two stages, one plan: (a) cross-batch — an
    // ANTI join of batch fingerprints against the store (at scale the
    // store side is bucketed on the fingerprint, so this is a co-located
    // join; a bloom pre-prune as in t17 cuts the probe shuffle); (b)
    // within-batch — keep-first per fingerprint among survivors (the
    // batch can collide with itself). Batch = doc_id % 4 == 0, store =
    // fingerprints of the rest; 37 of 125 batch docs are absorbed at
    // sf0.01 (both paths provably fire).
    "d15_incremental_ingest_dedup" -> ((s, d) => {
      val fps = Dedup.simhash(Tables.documents(s, d), "doc_id", col("text"), BITS)
      val store = fps.filter(col("doc_id") % 4 =!= 0).select("simhash").distinct()
      val batch = fps.filter(col("doc_id") % 4 === 0)
      Dedup.keepFirst(
        batch.join(store, Seq("simhash"), "left_anti"),
        Seq("simhash"), Seq(col("doc_id")))
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // maxPostingLen: the stop-shingle cap rides the production query so the
    // gate exercises the capped plan; 1<<20 is far above any list this
    // corpus produces (sf0.1 max ≈ corpus-per-source), so the result is
    // hash-identical to the uncapped oracle — DedupOpsSpec proves the cap
    // actually bounds pair count under a planted hot shingle.
    "d6_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", col("text"), K,
        Some(col("source")), maxPostingLen = 1 << 20)
        .orderBy("id1", "id2")),

    // Hamming-LSH over simhash: band the 32-bit fingerprint into 4 byte
    // slices, candidates share ≥1 slice, verify bit_count(xor) ≤ 1.
    // Generate-then-verify applied to the simhash tier — the share-a-band
    // condition is part of the operator's semantics, so the oracle
    // reproduces it exactly (no recall gap to hide). maxHamming is tight
    // because the synthetic corpus's 32-bit fingerprints are heavily
    // clustered (1.4k pairs at h≤1; h≤8 would pass 105k).
    "d10_simhash_band_pairs" -> ((s, d) =>
      Dedup.simhashBandPairs(Tables.documents(s, d), "doc_id", col("text"),
        BITS, bands = 4, maxHamming = 1)
        .orderBy("id1", "id2")),

    // 64-bit simhash tier (industry-norm width; 32-bit collides heavily on
    // clustered corpora — d9 shows 98/500 exact 32-bit collisions). Two
    // 32-bit lanes (sim_hi, sim_lo) keep every value non-negative < 2³² so
    // the DuckDB twin needs no two's-complement shift semantics; 2 bands
    // of 16 bits per lane (4 bands total), exact hamming verify over both
    // lanes. Looser maxHamming than d10 because 64-bit fingerprints spread
    // the clustered corpus out — the width upgrade is the point.
    //
    // Band GEOMETRY is a pure cost knob here, not a semantics one: any
    // geometry with more bands than maxHamming has candidate recall 1.0
    // (pigeonhole — 3 flips cannot touch all 4 bands), and the exact
    // hamming verify makes the final pair set geometry-invariant. 16-bit
    // slices give 65,536 bucket values per band where 8-bit slices gave
    // 256: with buckets that coarse, occupancy grows linearly with the
    // corpus and the in-bucket pair term grows QUADRATICALLY — the sf1
    // sweep measured d13 at 3.5-6.7x for 10x data. Wider slices push the
    // quadratic onset out by 256x while changing nothing downstream.
    "d13_simhash64_band_pairs" -> ((s, d) =>
      Dedup.simhash64BandPairs(Tables.documents(s, d), "doc_id", col("text"),
        bandsPerLane = 2, maxHamming = 3)
        .orderBy("id1", "id2")),

    // Edit-distance near-dup pairs (character-level dedup tier): docs with
    // doc_id % 7 == 0 get a deterministic corrupted twin (one character
    // substituted at position 31 — past the two-token block key, inside
    // the compared prefix), so the positive path provably fires; unrelated
    // docs sharing a block are exercised and rejected by the verify. Block
    // join on the first two tokens, exact levenshtein <= tau.
    "d12_editdist_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(substring(col("text"), 1, 30), lit("z"),
            substring(col("text"), 32, 1000000)).as("text"))
      Dedup.editDistancePairs(docs.unionByName(variants), "doc_id",
        col("text"), prefixChars = 48, tau = 4)
        .orderBy("id1", "id2")
    }),

    // Sub-document dedup with reassembly (CCNet/Dolma line-dedup shape):
    // 16-token chunks, first occurrence wins corpus-wide, docs rebuilt
    // from surviving chunks in original order. Two keyed shuffles total
    // (chunk value, then doc id) — see Dedup.chunkDedup for the 100 TB
    // argument.
    "pd1_chunk_dedup" -> ((s, d) =>
      Dedup.chunkDedup(Tables.documents(s, d), col("text"), "doc_id", CHUNK)
        .orderBy("doc_id")),

    // Dedup observability: the group-size histogram over the CC labels —
    // the report every dedup run ships with ("how much mass sits in
    // groups of size k"). Two keyed aggregates over the memoized label
    // base; at scale both ride the component key and the |sizes|-row
    // histogram is the only driver-visible output.
    "d18_dup_size_histogram" -> ((s, d) =>
      dupLabels(s, d)
        .groupBy("component").agg(count(lit(1)).as("group_size"))
        .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
        .withColumn("n_docs", (col("group_size") * col("n_groups")).cast("bigint"))
        .orderBy("group_size")),

    // Sketch-calibration report — how good is the MinHash estimate the LSH
    // tier actually acts on? For every d4 candidate pair: the signature-
    // agreement estimate (agreeing positions / SIG) next to the EXACT
    // shingle-set Jaccard, plus the signed error, all in integer ppm.
    // This is the operator a curation pipeline runs before trusting a
    // near-dup threshold at scale. Cost: the pair set is the LSH-blocked
    // candidate list (never all-pairs); each side joins its signature row
    // and shingle-hash array back by doc id, and the exact Jaccard is
    // array_intersect/array_union on already-co-located arrays — bounded
    // by doc length, no explode, no extra shuffle beyond the two keyed
    // joins.
    "d20_minhash_jaccard_estimate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hashed = Dedup.hashedShingles(docs, col("text"), K, Seq(col("doc_id")))
        .select(col("doc_id"), col("__hs"))
      val sigs = Dedup.withMinhashSigs(hashed, col("__hs"), SIG)
      val left = sigs.select(col("doc_id").as("id1") +:
        col("__hs").as("hs1") +:
        (0 until SIG).map(i => col(s"sig$i").as(s"a$i")): _*)
      val right = sigs.select(col("doc_id").as("id2") +:
        col("__hs").as("hs2") +:
        (0 until SIG).map(i => col(s"sig$i").as(s"b$i")): _*)
      val agree = (0 until SIG)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      Dedup.lshBandPairs(sigs, "doc_id", BANDS, ROWS)
        .join(left, Seq("id1")).join(right, Seq("id2"))
        .withColumn("n_agree", agree)
        .withColumn("n_inter", size(array_intersect(
          array_distinct(col("hs1")), array_distinct(col("hs2"))))
          .cast("bigint"))
        .withColumn("n_union",
          size(array_union(col("hs1"), col("hs2"))).cast("bigint"))
        .select(col("id1"), col("id2"),
          expr(s"(1000000 * n_agree) div $SIG").as("est_ppm"),
          // zero-union guard (d22's rule): unreachable today only because
          // MinHashExpr NULLs empty shingle arrays out of the LSH pair set
          // — guard locally instead of leaning on that non-local invariant
          // (ANSI div would throw on a zero-shingle pair otherwise)
          when(col("n_union") > 0,
            expr("(1000000 * n_inter) div n_union")).as("exact_ppm"))
        .withColumn("err_ppm",
          when(col("exact_ppm").isNotNull, col("est_ppm") - col("exact_ppm")))
        .orderBy("id1", "id2")
    }),

    // Shingle containment — the asymmetric near-dup measure Jaccard
    // misses: a short doc fully embedded in a longer one (quote farms,
    // page-with-boilerplate wrappers) has |A∩B|/|A| ≈ 1 while
    // |A∩B|/|A∪B| stays small, so a Jaccard-thresholded pipeline keeps
    // both copies. Same LSH-blocked pair set as d4/d20 (never all
    // pairs), both directional containments + Jaccard on the co-located
    // distinct-shingle arrays, integer ppm; `is_contained` flags either
    // direction ≥ 0.9. Zero-shingle guards emit NULL rather than divide
    // (docs shorter than the shingle width).
    "d22_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val shingled = Dedup.hashedShingles(docs, col("text"), K, Seq(col("doc_id")))
        .select(col("doc_id"), col("__hs"))
      val hashed = shingled.select(col("doc_id"), array_distinct(col("__hs")).as("hs"))
      val sigs = Dedup.withMinhashSigs(shingled, col("__hs"), BANDS * ROWS)
      Dedup.lshBandPairs(sigs, "doc_id", BANDS, ROWS)
        .join(hashed.select(col("doc_id").as("id1"), col("hs").as("hs1")),
          Seq("id1"))
        .join(hashed.select(col("doc_id").as("id2"), col("hs").as("hs2")),
          Seq("id2"))
        .withColumn("n_inter",
          size(array_intersect(col("hs1"), col("hs2"))).cast("bigint"))
        .withColumn("n1", size(col("hs1")).cast("bigint"))
        .withColumn("n2", size(col("hs2")).cast("bigint"))
        .select(col("id1"), col("id2"),
          when(col("n1") > 0, expr("(1000000 * n_inter) div n1")).as("c1_ppm"),
          when(col("n2") > 0, expr("(1000000 * n_inter) div n2")).as("c2_ppm"),
          when(col("n1") + col("n2") - col("n_inter") > 0,
            expr("(1000000 * n_inter) div (n1 + n2 - n_inter)"))
            .as("jaccard_ppm"))
        .withColumn("is_contained",
          greatest(coalesce(col("c1_ppm"), lit(0L)),
            coalesce(col("c2_ppm"), lit(0L))) >= 900000L)
        .orderBy("id1", "id2")
    }),

    // Quality-aware canonical selection — production near-dedup does NOT
    // keep the minimum id (d8's convention): it keeps each group's BEST
    // member (highest quality score, t2's definition) so dedup improves
    // the corpus instead of sampling it arbitrarily. Pure tail on the
    // memoized dup-label base: one doc-keyed quality join, then ONE
    // component-keyed exchange serving both the row_number pick and the
    // group-size count (same partitioning — the window subset rule).
    // quality is t2's bit-stable double, so the DESC order and the
    // emitted column hash identically cross-engine; doc_id breaks ties.
    "d21_quality_canonical" -> ((s, d) => {
      val q = Tables.documents(s, d).select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
      val labeled = dupLabels(s, d).select("doc_id", "component")
        .join(q, Seq("doc_id"))
      val wOrd = Window.partitionBy(col("component"))
        .orderBy(col("quality").desc, col("doc_id"))
      val wAll = Window.partitionBy(col("component"))
      labeled
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("group_size", count(lit(1)).over(wAll).cast("int"))
        .filter(col("rn") === 1)
        .select(col("component"), col("doc_id"), col("group_size"),
          col("quality"))
        .orderBy("component")
    }),

    // Per-source duplication report — the corpus-curation readout ("which
    // ingest source is flooding the corpus with near-copies"), the d18
    // histogram's sibling keyed by provenance instead of group size. Pure
    // tail on the memoized label base: one component-keyed size aggregate,
    // one component-keyed join back, one source-keyed roll-up — the doc
    // table's source column rides in via a doc_id-keyed join (dupLabels
    // carries only (doc_id, component)). Rate in integer ppm (`div`):
    // exact on both engines, nothing float anywhere.
    "d19_dup_rate_by_source" -> ((s, d) => {
      val lbl = dupLabels(s, d)
      val sizes = lbl.groupBy("component")
        .agg(count(lit(1)).as("group_size"))
      lbl.join(sizes, Seq("component"))
        .join(Tables.documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("group_size") > 1, 1L).otherwise(0L))
            .as("n_dup_docs"))
        .withColumn("dup_ppm", expr("(1000000 * n_dup_docs) div n_docs"))
        .orderBy("source")
    }),

    // Exact-substring (span-level) dedup, detect tier: the regions of each
    // doc whose 13-token windows also occur in ≥1 other doc, merged into
    // maximal spans — the sub-document granularity between chunk dedup
    // (pd1, fixed 16-token cells) and whole-doc near-dup (d3-d7). One
    // shingle-hash-keyed shuffle (cross-doc test = min!=max doc over the
    // h-partition window, single pass, no self-join) + one doc-keyed
    // island merge; see Dedup.dupSpans for the 100 TB shape.
    "d16_dup_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val agg = Dedup.dupSpans(docs, "doc_id", col("text"), SPAN_K)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_spans"),
          sum(col("span_end") - col("span_start") + 1).cast("int")
            .as("dup_tokens"))
      docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("int").as("n_tokens"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0)).as("dup_tokens"))
        .withColumn("dup_frac",
          col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }),

    // Span dedup, apply tier: drop every dup-span token, rebuild the rest
    // in order — the document survives with its boilerplate cut out rather
    // than being kept/dropped whole.
    "d17_span_clean" -> ((s, d) =>
      Dedup.spanClean(Tables.documents(s, d), "doc_id", col("text"), SPAN_K)
        .orderBy("doc_id")),

    // Incremental span dedup — d15's ingest discipline at the SPAN tier:
    // the new batch (doc_id % 4 == 0, d15's convention) is span-deduped
    // against the persisted gram-hash STORE of the rest of the corpus
    // plus itself, never by re-shingling history. The oracle is the
    // FULL-corpus span summary restricted to batch docs: "h in store OR
    // ≥2 distinct batch docs" is exactly "≥2 distinct corpus docs" for a
    // batch doc (history = non-batch corpus and duplication is
    // symmetric), so a hash match here proves the incremental path equals
    // the full recompute — the strongest statement an oracle can make
    // about an ingest shortcut. SpanDedupSpec pins the same equivalence
    // against a parquet-persisted store (the real production shape);
    // PlanSpec pins the store side to one keyed join, no
    // cartesian/nested-loop, no store re-shingle in the batch stage.
    "d23_incremental_span_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val store = Dedup.spanHashStore(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", col("text"), SPAN_K)
      val agg = Dedup.incrementalDupSpans(batch, store, "doc_id",
          col("text"), SPAN_K)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_spans"),
          sum(col("span_end") - col("span_start") + 1).cast("int")
            .as("dup_tokens"))
      batch.select(col("doc_id"),
          size(split(col("text"), " ")).cast("int").as("n_tokens"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0)).as("dup_tokens"))
        .orderBy("doc_id")
    }),

    // LSH parameter sweep — the tuning readout a pipeline runs BEFORE
    // committing to a banding: over ONE 16-wide signature, three
    // (bands × rows) splits generate their candidate sets; each is scored
    // for volume (n_pairs), precision against exact Jaccard ≥ 0.5 on the
    // candidate's shingle sets, and pooled recall (share of the true
    // pairs found by ANY config — the IR pooling trick, computable
    // without an all-pairs join). More bands ⇒ more candidates, lower
    // precision, higher recall: the sweep SHOWS the curve. Scale shape:
    // every pair set stays band-blocked; the exact-Jaccard join runs once
    // on the POOLED distinct candidates; per-config stats re-join that
    // flagged pool, all candidate-scale. The sweep runs on an ABSOLUTE
    // doc sample (the sim10/CENT_CAP rule; covers sf0.001–sf0.1
    // entirely, so gate results are unchanged there): the loose 8×2 tier's
    // FALSE-POSITIVE band collisions grow ~quadratically with the corpus
    // — measured 24.3× at 10× data before the cap — and a parameter
    // sweep's verdict comes from a representative sample, not the full
    // corpus.
    "d24_lsh_band_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < SweepCap)
      val hashed = Dedup.hashedShingles(docs, col("text"), K, Seq(col("doc_id")))
        .select(col("doc_id"), col("__hs"))
      val sigs = Dedup.withMinhashSigs(hashed, col("__hs"), SIG).drop("__hs")
      val configs = Seq((2, 8), (4, 4), (8, 2))
      val pairs = configs.map { case (b, r) =>
        Dedup.lshBandPairs(sigs, "doc_id", b, r)
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("id1"), col("id2"))
      }.reduce(_ unionAll _)
      val hd = hashed.select(col("doc_id"),
        array_distinct(col("__hs")).as("hs"))
      val flagged = pairs.select("id1", "id2").distinct()
        .join(hd.select(col("doc_id").as("id1"), col("hs").as("hs1")),
          Seq("id1"))
        .join(hd.select(col("doc_id").as("id2"), col("hs").as("hs2")),
          Seq("id2"))
        .select(col("id1"), col("id2"),
          size(array_intersect(col("hs1"), col("hs2"))).cast("bigint")
            .as("ni"),
          size(col("hs1")).cast("bigint").as("n1"),
          size(col("hs2")).cast("bigint").as("n2"))
        .select(col("id1"), col("id2"),
          // two-step null-safe threshold (the d20 zero-union guard): a
          // zero-union pair yields NULL j_ppm, which thresholds to 0
          when(col("n1") + col("n2") - col("ni") > 0,
            expr("(1000000 * ni) div (n1 + n2 - ni)")).as("j_ppm"))
        .select(col("id1"), col("id2"),
          when(col("j_ppm") >= 500000, 1L).otherwise(0L).as("is_true"))
      val pool = flagged.agg(sum(col("is_true")).as("n_pool"))
      pairs.join(flagged, Seq("id1", "id2"))
        .groupBy("bands", "rows_per_band")
        .agg(count(lit(1)).as("n_pairs"), sum(col("is_true")).as("n_true"))
        .crossJoin(broadcast(pool))
        .select(col("bands"), col("rows_per_band"), col("n_pairs"),
          col("n_true"),
          expr("(1000000 * n_true) div n_pairs").as("precision_ppm"),
          when(col("n_pool") > 0, expr("(1000000 * n_true) div n_pool"))
            .as("pooled_recall_ppm"))
        .orderBy("bands")
    }),

    // Cross-SOURCE overlap matrix: exact shingle-set Jaccard between
    // corpus sources — the "which crawls duplicate each other" report a
    // data-acquisition team reads before paying for a new dump (doc-level
    // dedup tells you which documents collide; this tells you which
    // SOURCES are redundant wholesale). Scale shape: one distinct
    // (source, shingle) aggregate at data scale, then the shingle-keyed
    // self-join fans out at most |sources|² per shingle — the pair table
    // is bounded by the SOURCE domain (tens), never by data. All counts
    // integer; Jaccard one double division.
    "d25_source_overlap" -> ((s, d) => {
      // r11 (guide §2.4): distinct → repartition(h) + dropDuplicates —
      // hashpartitioning(h) satisfies the (source, h) dedup clustering
      // (subset rule), so the dedup rides the ONE exchange the h-keyed
      // self-join needs anyway and the old separate (source, h)-keyed
      // distinct exchange is deleted; both join sides and the sizes
      // aggregate reuse the same exchange (ReusedExchange), so the
      // shingle generation runs once per call instead of twice
      val hashed = Dedup.hashedShingles(Tables.documents(s, d), col("text"),
        K, Seq(col("source")))
      val ss = Dedup.explodeRows(hashed, Seq(col("source")), col("__hs"), "h")
        .repartition(col("h"))
        .dropDuplicates("source", "h")
      val sizes = ss.groupBy("source").agg(count(lit(1)).as("sz"))
      ss.select(col("source").as("src1"), col("h"))
        .join(ss.select(col("source").as("src2"), col("h")), Seq("h"))
        .filter(col("src1") < col("src2"))
        .groupBy("src1", "src2").agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("src1"),
          col("sz").as("sz1"))), Seq("src1"))
        .join(broadcast(sizes.select(col("source").as("src2"),
          col("sz").as("sz2"))), Seq("src2"))
        .select(col("src1"), col("src2"), col("sz1"), col("sz2"),
          col("inter"),
          (col("inter").cast("double") /
            (col("sz1") + col("sz2") - col("inter")).cast("double"))
            .as("jaccard"))
        .orderBy("src1", "src2")
    }),
  )

  // ---- generated oracle SQL ---------------------------------------------

  /** Shared CTE prefix: tokens → distinct k-shingles → shingle hashes. */
  private def hashCte: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
        sgl AS (SELECT doc_id, source, ${Dedup.shinglesSql("ts", K)} AS sh FROM t),
        h AS (SELECT doc_id, source,
                     list_transform(sh, s1 -> ${StableHash.polyHashSql("s1")}) AS hs
              FROM sgl)"""

  private def sigExprs: Seq[String] =
    StableHash.affineParams(SIG).zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, hv -> (hv * $a + $b) % ${StableHash.P})) AS sig$i"
    }

  private def minhashSql: String =
    s"""$hashCte
        SELECT doc_id, ${sigExprs.mkString(",\n               ")}
        FROM h ORDER BY doc_id"""

  private def lshSql: String = {
    val bandIdx = (0 until BANDS).map(b => b.toString).mkString("[", ", ", "]")
    val keys = (0 until BANDS).map { b =>
      StableHash.bandKeySql((0 until ROWS).map(r => s"sig${b * ROWS + r}"))
    }.mkString("[", ", ", "]")
    s"""$hashCte,
        sig AS (SELECT doc_id, ${sigExprs.mkString(",\n               ")} FROM h),
        bk AS (SELECT doc_id, unnest($bandIdx) AS band, unnest($keys) AS key FROM sig)
        SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
        FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
                           AND l.doc_id < r.doc_id
        ORDER BY id1, id2"""
  }

  /** d7: transitive closure of the d4 pairs via recursive CTE, min per
    * node = component representative (gate-scale only; the Spark side is
    * the scalable iterative form).
    */
  private def componentCte: String = {
    val keys = (0 until BANDS).map { b =>
      StableHash.bandKeySql((0 until ROWS).map(r => s"sig${b * ROWS + r}"))
    }.mkString("[", ", ", "]")
    val bandIdx = (0 until BANDS).map(b => b.toString).mkString("[", ", ", "]")
    s"""${hashCte.replaceFirst("WITH", "WITH RECURSIVE")},
        sig AS (SELECT doc_id, ${sigExprs.mkString(",\n               ")} FROM h),
        bk AS (SELECT doc_id, unnest($bandIdx) AS band, unnest($keys) AS key FROM sig),
        pairs AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
                  FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
                                     AND l.doc_id < r.doc_id),
        edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                  UNION ALL SELECT id2, id1 FROM pairs),
        reach AS (SELECT doc_id AS s, doc_id AS t FROM documents
                  UNION
                  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a),
        comp AS (SELECT s AS doc_id, min(t) AS component
                 FROM reach GROUP BY s)"""
  }

  private def dupGroupsSql: String =
    s"""$componentCte
        SELECT doc_id, component FROM comp ORDER BY doc_id"""

  private def dedupApplySql: String =
    s"""$componentCte,
        sz AS (SELECT component, CAST(count(*) AS INT) AS group_size
               FROM comp GROUP BY component)
        SELECT d.doc_id, d.source, d.n_chars, sz.group_size
        FROM sz JOIN documents d ON d.doc_id = sz.component
        ORDER BY doc_id"""

  private def leakageSafeSplitSql: String =
    s"""$componentCte
        SELECT doc_id, component,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, component,
                ((${StableHash.polyHashSql("concat('split|', CAST(component AS VARCHAR))")}
                  * $sA + $sB) % ${StableHash.P} + 1.0) / ${StableHash.P + 1}.0 AS u
              FROM comp)
        ORDER BY doc_id"""

  /** Shared simhash CTE ending in `f(doc_id, simhash)`: d5 appends its
    * SELECT, d9 appends its QUALIFY — one fingerprint definition, like
    * [[componentCte]] for d7/d8.
    */
  private def simhashCte: String = {
    val bitSums = Dedup.simhashBitSumsSql(BITS)
    val fp = Dedup.simhashFpSql(BITS)
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
        th AS (SELECT doc_id, ${StableHash.polyHashSql("tk")} AS th FROM tok),
        s AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
        f AS (SELECT doc_id, $fp AS simhash FROM s)"""
  }

  private def simhashSql: String =
    s"""$simhashCte
        SELECT doc_id, simhash FROM f ORDER BY doc_id"""

  private def fingerprintDedupSql: String = {
    s"""$simhashCte
        SELECT doc_id, simhash FROM f
        QUALIFY row_number() OVER (PARTITION BY simhash ORDER BY doc_id) = 1
        ORDER BY doc_id"""
  }

  private def incrementalIngestSql: String =
    s"""$simhashCte
        SELECT doc_id, simhash FROM f
        WHERE doc_id % 4 = 0
          AND simhash NOT IN (SELECT simhash FROM f WHERE doc_id % 4 <> 0)
        QUALIFY row_number() OVER (PARTITION BY simhash ORDER BY doc_id) = 1
        ORDER BY doc_id"""

  private def simhash64BandPairsSql: String = {
    // 2 bands × 16 bits per lane — mirrors the query's geometry (the
    // share condition is implied by hamming<=3 for ANY >3-band geometry,
    // so the result set is geometry-invariant; keeping the mirror makes
    // the oracle the same generate-then-verify program, not just the same
    // answer)
    val share = (0 until 2).map { b =>
      Seq(s"(((a.sim_lo >> ${b * 16}) & 65535) = ((b.sim_lo >> ${b * 16}) & 65535))",
          s"(((a.sim_hi >> ${b * 16}) & 65535) = ((b.sim_hi >> ${b * 16}) & 65535))")
    }.flatten.mkString(" OR ")
    s"""${Dedup.simhash64CteSql("documents", "doc_id", "text")}
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.sim_hi, b.sim_hi)) +
                    bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE ($share)
          AND bit_count(xor(a.sim_hi, b.sim_hi)) +
              bit_count(xor(a.sim_lo, b.sim_lo)) <= 3
        ORDER BY id1, id2"""
  }

  private def simhashBandPairsSql: String =
    s"""$simhashCte
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE (${Dedup.simhashBandShareSql("a.simhash", "b.simhash", BITS, 4)})
          AND bit_count(xor(a.simhash, b.simhash)) <= 1
        ORDER BY id1, id2"""

  private def jaccardSql: String =
    s"""$hashCte,
        z AS (SELECT doc_id, source, len(hs) AS nsh, unnest(hs) AS shingle FROM h)
        SELECT l.doc_id AS id1, r.doc_id AS id2,
               CAST(count(*) AS DOUBLE) /
                 CAST(any_value(l.nsh) + any_value(r.nsh) - count(*) AS DOUBLE)
                 AS jaccard
        FROM z l JOIN z r ON l.source = r.source AND l.shingle = r.shingle
                         AND l.doc_id < r.doc_id
        GROUP BY l.doc_id, r.doc_id
        ORDER BY id1, id2"""

  val oracles: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT sha256(text) AS text_sha, count(*) AS n_copies,
                min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY text_sha""",
    "d2_keep_first" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
                  row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id""",
    "d3_minhash_signatures" -> minhashSql,
    "d4_lsh_candidate_pairs" -> lshSql,
    "d7_dup_groups" -> dupGroupsSql,
    // identical semantics to d7 — the persistence tier must be invisible
    "d7b_dup_groups_persisted" -> dupGroupsSql,
    "d8_dedup_apply" -> dedupApplySql,
    "d14_leakage_safe_split" -> leakageSafeSplitSql,
    "d5_simhash" -> simhashSql,
    "d9_fingerprint_dedup" -> fingerprintDedupSql,
    "d15_incremental_ingest_dedup" -> incrementalIngestSql,
    "d6_ngram_jaccard" -> jaccardSql,
    "d10_simhash_band_pairs" -> simhashBandPairsSql,
    "d13_simhash64_band_pairs" -> simhash64BandPairsSql,
    "pd1_chunk_dedup" -> chunkDedupSql,
    "d12_editdist_pairs" -> editDistPairsSql,
    "d16_dup_spans" -> dupSpansSql,
    "d17_span_clean" -> spanCleanSql,
    "d23_incremental_span_dedup" -> incrementalSpanSql,
    "d18_dup_size_histogram" -> dupSizeHistogramSql,
    "d19_dup_rate_by_source" -> dupRateBySourceSql,
    "d20_minhash_jaccard_estimate" -> minhashEstimateSql,
    "d21_quality_canonical" -> qualityCanonicalSql,
    "d22_containment" -> containmentSql,
    "d24_lsh_band_sweep" -> bandSweepSql,
    "d25_source_overlap" ->
      s"""$hashCte,
          z AS (SELECT DISTINCT source, unnest(hs) AS hv FROM h),
          sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
                    FROM z GROUP BY 1),
          i AS (SELECT a.source AS src1, b.source AS src2,
                       CAST(count(*) AS BIGINT) AS inter
                FROM z a JOIN z b ON a.hv = b.hv AND a.source < b.source
                GROUP BY 1, 2)
          SELECT src1, src2, s1.sz AS sz1, s2.sz AS sz2, inter,
                 CAST(inter AS DOUBLE) /
                   CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jaccard
          FROM i JOIN sizes s1 ON src1 = s1.source
                 JOIN sizes s2 ON src2 = s2.source
          ORDER BY src1, src2""",
  )

  /** d24: three bandings of ONE signature, pooled exact-Jaccard flags
    * (d22's list_distinct + inclusion-exclusion union), per-config
    * volume/precision/pooled-recall.
    */
  private def bandSweepSql: String = {
    def pCte(n: String, b: Int, r: Int): String = {
      val bandIdx = (0 until b).map(_.toString).mkString("[", ", ", "]")
      val keys = (0 until b).map { bi =>
        StableHash.bandKeySql((0 until r).map(ri => s"sig${bi * r + ri}"))
      }.mkString("[", ", ", "]")
      s"""${n}b AS (SELECT doc_id, unnest($bandIdx) AS band,
                           unnest($keys) AS key FROM sig),
          $n AS (SELECT DISTINCT $b AS bands, $r AS rows_per_band,
                        l.doc_id AS id1, rr.doc_id AS id2
                 FROM ${n}b l JOIN ${n}b rr
                   ON l.band = rr.band AND l.key = rr.key
                      AND l.doc_id < rr.doc_id)"""
    }
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                   FROM documents WHERE doc_id < $SweepCap),
        sgl AS (SELECT doc_id, ${Dedup.shinglesSql("ts", K)} AS sh FROM t),
        h AS (SELECT doc_id,
                     list_transform(sh, s1 -> ${StableHash.polyHashSql("s1")})
                       AS hs
              FROM sgl),
        sig AS (SELECT doc_id, ${sigExprs.mkString(",\n               ")} FROM h),
        ${pCte("p1", 2, 8)},
        ${pCte("p2", 4, 4)},
        ${pCte("p3", 8, 2)},
        allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
                 UNION ALL SELECT * FROM p3),
        dp AS (SELECT DISTINCT id1, id2 FROM allp),
        hd AS (SELECT doc_id, list_distinct(hs) AS hs FROM h),
        ju AS (SELECT dp.id1, dp.id2,
                      CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS ni,
                      CAST(len(a.hs) AS BIGINT) + CAST(len(b.hs) AS BIGINT)
                        - CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS u
               FROM dp JOIN hd a ON a.doc_id = dp.id1
                       JOIN hd b ON b.doc_id = dp.id2),
        fl AS (SELECT id1, id2,
                      CASE WHEN (CASE WHEN u > 0
                                      THEN (1000000 * ni) // u END) >= 500000
                           THEN CAST(1 AS BIGINT)
                           ELSE CAST(0 AS BIGINT) END AS is_true
               FROM ju),
        pool AS (SELECT CAST(sum(is_true) AS BIGINT) AS n_pool FROM fl),
        ag AS (SELECT bands, rows_per_band,
                      CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(sum(is_true) AS BIGINT) AS n_true
               FROM allp JOIN fl USING (id1, id2)
               GROUP BY bands, rows_per_band)
        SELECT bands, rows_per_band, n_pairs, n_true,
               (1000000 * n_true) // n_pairs AS precision_ppm,
               CASE WHEN n_pool > 0 THEN (1000000 * n_true) // n_pool END
                 AS pooled_recall_ppm
        FROM ag, pool ORDER BY bands"""
  }

  /** d22: d4's band-key pair CTE, then both directional containments on
    * the distinct-shingle lists ('//' floor division mirrors `div`;
    * zero-shingle sides emit NULL on both engines).
    */
  private def containmentSql: String = {
    val keys = (0 until BANDS).map { b =>
      StableHash.bandKeySql((0 until ROWS).map(r => s"sig${b * ROWS + r}"))
    }.mkString("[", ", ", "]")
    val bandIdx = (0 until BANDS).map(b => b.toString).mkString("[", ", ", "]")
    s"""$hashCte,
        sig AS (SELECT doc_id, ${sigExprs.mkString(",\n               ")} FROM h),
        bk AS (SELECT doc_id, unnest($bandIdx) AS band, unnest($keys) AS key
               FROM sig),
        pairs AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
                  FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
                                     AND l.doc_id < r.doc_id),
        hd AS (SELECT doc_id, list_distinct(hs) AS hs FROM h),
        m AS (SELECT p.id1, p.id2,
                     CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS n_inter,
                     CAST(len(a.hs) AS BIGINT) AS n1,
                     CAST(len(b.hs) AS BIGINT) AS n2
              FROM pairs p JOIN hd a ON a.doc_id = p.id1
                           JOIN hd b ON b.doc_id = p.id2)
        SELECT id1, id2,
               CASE WHEN n1 > 0
                    THEN CAST((1000000 * n_inter) // n1 AS BIGINT) END AS c1_ppm,
               CASE WHEN n2 > 0
                    THEN CAST((1000000 * n_inter) // n2 AS BIGINT) END AS c2_ppm,
               CASE WHEN n1 + n2 - n_inter > 0
                    THEN CAST((1000000 * n_inter) // (n1 + n2 - n_inter)
                         AS BIGINT) END AS jaccard_ppm,
               greatest(coalesce(CASE WHEN n1 > 0
                          THEN (1000000 * n_inter) // n1 END, 0),
                        coalesce(CASE WHEN n2 > 0
                          THEN (1000000 * n_inter) // n2 END, 0)) >= 900000
                 AS is_contained
        FROM m ORDER BY id1, id2"""
  }

  /** d21: componentCte's labels joined to the shared quality-score twin
    * ([[TextOps.qualityScoreSql]]); the same single window pass picks the
    * best member and sizes the group.
    */
  private def qualityCanonicalSql: String =
    s"""$componentCte,
        qx AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        qq AS (SELECT doc_id, ${TextOps.qualityScoreSql("ts")} AS quality
               FROM qx),
        lj AS (SELECT c.doc_id, c.component, qq.quality
               FROM comp c JOIN qq ON qq.doc_id = c.doc_id),
        rk AS (SELECT *,
                 row_number() OVER (PARTITION BY component
                   ORDER BY quality DESC, doc_id) AS rn,
                 CAST(count(*) OVER (PARTITION BY component) AS INT)
                   AS group_size
               FROM lj)
        SELECT component, doc_id, group_size, quality FROM rk WHERE rn = 1
        ORDER BY component"""

  /** d20: same band-key pair generation as d4, then per pair the
    * signature-agreement estimate vs the exact distinct-shingle Jaccard,
    * in integer ppm ('//' floor division mirrors Spark's `div`).
    */
  private def minhashEstimateSql: String = {
    val keys = (0 until BANDS).map { b =>
      StableHash.bandKeySql((0 until ROWS).map(r => s"sig${b * ROWS + r}"))
    }.mkString("[", ", ", "]")
    val bandIdx = (0 until BANDS).map(b => b.toString).mkString("[", ", ", "]")
    val agreeSum = (0 until SIG)
      .map(i => s"CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""$hashCte,
        sig AS (SELECT doc_id, ${sigExprs.mkString(",\n               ")} FROM h),
        bk AS (SELECT doc_id, unnest($bandIdx) AS band, unnest($keys) AS key FROM sig),
        pairs AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
                  FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
                                     AND l.doc_id < r.doc_id),
        est AS (SELECT p.id1, p.id2, CAST($agreeSum AS BIGINT) AS n_agree
                FROM pairs p
                JOIN sig a ON a.doc_id = p.id1
                JOIN sig b ON b.doc_id = p.id2),
        ex AS (SELECT p.id1, p.id2,
                      CAST(len(list_intersect(list_distinct(ha.hs),
                                              list_distinct(hb.hs)))
                           AS BIGINT) AS n_inter,
                      CAST(len(list_distinct(list_concat(ha.hs, hb.hs)))
                           AS BIGINT) AS n_union
               FROM pairs p
               JOIN h ha ON ha.doc_id = p.id1
               JOIN h hb ON hb.doc_id = p.id2)
        SELECT est.id1, est.id2,
               CAST((1000000 * n_agree) // $SIG AS BIGINT) AS est_ppm,
               CAST(CASE WHEN n_union > 0
                         THEN (1000000 * n_inter) // n_union END
                    AS BIGINT) AS exact_ppm,
               CAST(CASE WHEN n_union > 0
                         THEN (1000000 * n_agree) // $SIG
                              - (1000000 * n_inter) // n_union END
                    AS BIGINT) AS err_ppm
        FROM est JOIN ex ON est.id1 = ex.id1 AND est.id2 = ex.id2
        ORDER BY est.id1, est.id2"""
  }

  private def dupRateBySourceSql: String =
    s"""$componentCte,
        sz AS (SELECT component, count(*) AS gs FROM comp GROUP BY component)
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN sz.gs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_docs,
               CAST((1000000 * CAST(sum(CASE WHEN sz.gs > 1 THEN 1 ELSE 0 END)
                                    AS BIGINT))
                    // CAST(count(*) AS BIGINT) AS BIGINT) AS dup_ppm
        FROM comp c
        JOIN sz USING (component)
        JOIN documents d USING (doc_id)
        GROUP BY d.source ORDER BY d.source"""

  private def dupSizeHistogramSql: String =
    s"""$componentCte,
        sz AS (SELECT component, count(*) AS group_size
               FROM comp GROUP BY component)
        SELECT group_size, count(*) AS n_groups,
               CAST(group_size * count(*) AS BIGINT) AS n_docs
        FROM sz GROUP BY group_size
        ORDER BY group_size"""

  /** Shared CTE chain for span dedup: positional 13-gram hashes →
    * cross-doc dup hashes → hit positions → merged spans. Same WIDE
    * fingerprint ([[StableHash.polyHash64]]'s paired fold — span dedup's
    * semantic quality rests on its ~2^60 collision range), same merge
    * rule (gap ≤ k) as [[Dedup.dupSpans]].
    */
  private def spanCte: String = {
    val gram = (0 until SPAN_K).map(j => s"ts[pos + $j]").mkString(", ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        i AS (SELECT doc_id, ts,
                     unnest(generate_series(1, greatest(len(ts) - ${SPAN_K - 1}, 0))) AS pos
              FROM t),
        p AS (SELECT doc_id, CAST(pos AS INT) AS pos,
                     ${StableHash.polyHash64Sql(s"concat_ws(' ', $gram)")} AS h
              FROM i),
        q AS (SELECT doc_id, pos,
                     min(doc_id) OVER (PARTITION BY h) AS mn,
                     max(doc_id) OVER (PARTITION BY h) AS mx
              FROM p),
        hits AS (SELECT doc_id, pos FROM q WHERE mn <> mx),
        m AS (SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL THEN 1
                          WHEN pos - lag(pos) OVER w > $SPAN_K THEN 1
                          ELSE 0 END AS new_span
              FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        sp AS (SELECT doc_id, pos,
                      CAST(sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS INT) AS span_id
               FROM m),
        spans AS (SELECT doc_id, span_id,
                         CAST(min(pos) AS INT) AS span_start,
                         CAST(max(pos) + ${SPAN_K - 1} AS INT) AS span_end
                  FROM sp GROUP BY doc_id, span_id)"""
  }

  private def dupSpansSql: String =
    s"""$spanCte,
        agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
                       CAST(sum(span_end - span_start + 1) AS INT) AS dup_tokens
                FROM spans GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
               coalesce(a.n_spans, 0) AS n_spans,
               coalesce(a.dup_tokens, 0) AS dup_tokens,
               CAST(coalesce(a.dup_tokens, 0) AS DOUBLE)
                 / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS dup_frac
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id"""

  /** d23: the full-corpus span summary of [[spanCte]] restricted to the
    * batch — equal to the incremental store-probe form by the symmetry
    * argument in the query comment, so the hash gate certifies the
    * ingest shortcut against the full recompute.
    */
  private def incrementalSpanSql: String =
    s"""$spanCte,
        agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
                       CAST(sum(span_end - span_start + 1) AS INT) AS dup_tokens
                FROM spans GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
               coalesce(a.n_spans, 0) AS n_spans,
               coalesce(a.dup_tokens, 0) AS dup_tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE d.doc_id % 4 = 0
        ORDER BY d.doc_id"""

  private def spanCleanSql: String =
    s"""$spanCte,
        cov AS (SELECT doc_id,
                       CAST(unnest(generate_series(span_start, span_end)) AS INT) AS pos
                FROM spans),
        tok AS (SELECT doc_id, CAST(pos AS INT) AS pos, ts[pos] AS tok
                FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos
                      FROM t)),
        kept AS (SELECT k.doc_id, k.pos, k.tok
                 FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
                 WHERE c.pos IS NULL),
        r AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
                     string_agg(tok, ' ' ORDER BY pos) AS clean_text
              FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
               coalesce(r.n_kept, 0) AS n_kept,
               coalesce(r.clean_text, '') AS clean_text
        FROM documents d LEFT JOIN r USING (doc_id)
        ORDER BY d.doc_id"""

  private def editDistPairsSql: String =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000000, substr(text, 1, 30) || 'z' || substr(text, 32)
         FROM documents WHERE doc_id % 7 = 0),
       b AS (SELECT doc_id,
                    substr(text, 1, 48) AS p,
                    array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS blk
             FROM corpus)
       SELECT a.doc_id AS id1, c.doc_id AS id2,
              CAST(levenshtein(a.p, c.p) AS INT) AS dist
       FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
       WHERE abs(len(a.p) - len(c.p)) <= 4
         AND levenshtein(a.p, c.p) <= 4
       ORDER BY id1, id2"""

  private def chunkDedupSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        n AS (SELECT doc_id, ts,
                     unnest(generate_series(1, CAST(ceil(len(ts) / $CHUNK.0) AS BIGINT))) AS i
              FROM t),
        ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                      array_to_string(list_slice(ts, (i - 1) * $CHUNK + 1, i * $CHUNK), ' ') AS chunk
               FROM n),
        k AS (SELECT doc_id, chunk_idx, chunk
              FROM ch
              QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1),
        r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(chunk, ' ' ORDER BY chunk_idx) AS kept_text
              FROM k GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(ceil(len(string_split(d.text, ' ')) / $CHUNK.0) AS INT) AS n_chunks,
               CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
               coalesce(r.kept_text, '') AS kept_text
        FROM documents d LEFT JOIN r USING (doc_id)
        ORDER BY d.doc_id"""
}
