package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.StableHash

/** Deduplication operators for training-data pipelines (builder-prompt
  * first-class extension). Five tiers, cheapest → most semantic:
  *
  *  1. exact (hash groupBy) — one shuffle on a 32-byte key;
  *  2. MinHash signatures + LSH banding — near-dup candidate generation
  *     whose cost is |docs|·sig, with the pair join done on tiny band
  *     buckets (never all-pairs);
  *  3. SimHash — one 32-bit fingerprint per doc, hamming-bucketable;
  *  4. n-gram Jaccard — exact similarity, computed by an *inverted-index
  *     self-join* (explode shingles → join on shingle) so the quadratic
  *     blow-up is bounded by per-shingle posting lists, not |docs|²;
  *  5. embedding cosine near-dup (see [[Similarity]]).
  *
  * At 100 TB: tier 1/3 are single-shuffle; tier 2's band join is the
  * canonical web-scale dedup (the banding threshold tunes recall); tier 4
  * is reserved for candidate verification, exactly like production
  * pipelines verify LSH candidates with true Jaccard.
  *
  * Both halves of the fan-out-then-join shape live here once:
  * [[explodeRows]] is the one guarded explode (shingle postings, gram
  * rows, band rows), and [[bandJoin]] is the one (band, key) self-join
  * behind every banded tier (MinHash [[lshBandPairs]], [[simhashBandPairs]],
  * [[simhash64BandPairs]]).
  */
object Dedup {

  /** Parallelism floor for CPU-dense narrow chains. The bench corpus is
    * single-row-group parquet — an unsplittable 1-task scan — so a heavy
    * per-row chain (shingle→hash, hyperplane projections, decimal sums)
    * serializes on one core no matter how many the session has. When scan
    * parallelism is well below the session's, shuffle the (cheap, raw)
    * input once before the expensive compute; on any real deployment the
    * scan is already split and this is the identity — no exchange added.
    */
  def parallelize(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  /** Word-level k-shingles, distinct, from a *materialized* token array.
    * Never inline `split(text)` here: referenced k+1 times per shingle
    * lambda, Catalyst would re-tokenize the document for every element —
    * the projection chain in [[hashedShingles]] evaluates each stage once.
    */
  def shinglesFromTokens(ts: Column, k: Int): Column =
    // guard docs shorter than k tokens: sequence(0, negative) descends and
    // element_at(ts, 0) throws under ANSI; the oracle's generate_series
    // yields an empty list there, so return array() to match
    when(size(ts) >= k,
      array_distinct(
        transform(sequence(lit(0), size(ts) - k),
          i => concat_ws(" ", (0 until k).map(j => element_at(ts, i + j + 1)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Word-level k-shingles of a text column (convenience; single use). */
  def shingles(text: Column, k: Int): Column = shinglesFromTokens(split(text, " "), k)

  /** tokens → shingles → shingle hashes as a chain of Projects, each alias
    * multi-referenced downstream so CollapseProject keeps them
    * materialized. Output: input columns + `__hs` (array<long>).
    */
  def hashedShingles(df: DataFrame, text: Column, k: Int,
                     keep: Seq[Column]): DataFrame = {
    // select BEFORE parallelize: column pruning still reaches the scan;
    // only the pruned raw columns ride the (guard-gated) exchange
    val first = parallelize(df.select(keep :+ split(text, " ").as("__ts"): _*))
    // keep may contain aliased expressions — after the first projection,
    // refer to them by their OUTPUT names only.
    val names = first.columns.filterNot(_ == "__ts").map(col).toSeq
    first
      .select(names :+ shinglesFromTokens(col("__ts"), k).as("__sh"): _*)
      .select(names :+ transform(col("__sh"),
        s => StableHash.polyHash(s)).as("__hs"): _*)
  }

  def shinglesSql(e: String, k: Int): String = {
    val terms = (0 until k).map(j => s"ts[i + $j]").mkString(", ")
    s"list_distinct(list_transform(generate_series(1, len(ts) - ${k - 1}), " +
      s"i -> concat_ws(' ', $terms)))"
  }

  /** Exact dedup: canonical representative per identical text. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(sha2(text, 256).as("text_sha"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("keep_id"))

  /** MinHash signature columns sig0..sig{n-1} for a shingle-hash array —
    * the built-in-HOF reference form: n separate array traversals. Kept as
    * the semantic reference the fused kernel is property-tested against;
    * production paths go through [[withMinhashSigs]].
    */
  def minhashSigs(shingleHashes: Column, n: Int): Seq[(String, Column)] =
    StableHash.affineParams(n).zipWithIndex.map { case ((a, b), i) =>
      s"sig$i" -> array_min(
        transform(shingleHashes, h => (h * a + b) % StableHash.P))
    }

  /** Append sig0..sig{n-1} minhash columns in ONE pass over `hs` via the
    * codegen [[graft.functions.MinHashExpr]] kernel (identical values to
    * [[minhashSigs]], one array scan instead of n). The fused array is
    * materialized in its own projection — multi-referenced, so
    * CollapseProject keeps it evaluated once.
    */
  def withMinhashSigs(df: DataFrame, hs: Column, n: Int): DataFrame = {
    val others = df.columns.map(col).toSeq
    df.select(others :+ graft.functions.Exprs.minHash(hs, n).as("__mh"): _*)
      .select(others ++ (0 until n).map(i =>
        col("__mh").getItem(i).as(s"sig$i")): _*)
  }

  /** One row per element of `arr`, next to `keep`, as column `as`.
    *
    * Spelled `explode_outer` + `as IS NOT NULL`, deliberately: on a plain
    * explode of an array ATTRIBUTE, InferFiltersFromGenerate adds
    * `size(arr) > 0 AND isnotnull(arr)` and pushes it below every
    * projection by alias substitution — the whole tokens → shingles →
    * hashes chain ends up inlined in a Filter under the scan (beneath
    * `parallelize`'s round-robin exchange, on the one scan task) and runs
    * again above it (measured ~14× slower in ngramJaccard, ~4× in d25).
    * explode_outer infers no filter; its null rows (empty or null arrays,
    * null elements) drop through a cheap test on the generated attribute,
    * which cannot be pushed below the Generate.
    */
  def explodeRows(df: DataFrame, keep: Seq[Column], arr: Column,
                  as: String): DataFrame =
    df.select(keep :+ explode_outer(arr).as(as): _*).filter(col(as).isNotNull)

  /** The band self-join behind every banded tier: explode each row's
    * per-band keys (band index = position in `keys`) through
    * [[explodeRows]], self-join on (band, key) and keep `id1 < id2`. Each
    * `payload` column `c` rides both sides as `c1` and `c2`, so the
    * caller's verify reads them without a join back. The output is one
    * row per shared band: callers verify, then `distinct`.
    */
  def bandJoin(rows: DataFrame, id: String, keys: Seq[Column],
               payload: Seq[String] = Nil): DataFrame = {
    val bands = array(keys.zipWithIndex.map { case (k, b) =>
      struct(lit(b).as("band"), k.as("key")) }: _*)
    val exploded = explodeRows(rows, (id +: payload).map(col), bands, "bk")
      .select((id +: payload).map(col) ++
        Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
    def side(i: Int) = exploded.select(Seq(col("band"), col("key"),
      col(id).as(s"id$i")) ++ payload.map(c => col(c).as(s"$c$i")): _*)
    side(1).join(side(2), Seq("band", "key")).filter(col("id1") < col("id2"))
  }

  /** LSH candidate pairs over a MinHash signature frame: band
    * sig0..sig{bands·rows−1} of `sigDf`, hash each band, [[bandJoin]].
    * `affineParams` is prefix-stable, so a wider signature bands exactly
    * like one `bands`·`rows` wide.
    */
  def lshBandPairs(sigDf: DataFrame, id: String, bands: Int, rows: Int): DataFrame =
    bandJoin(sigDf, id, (0 until bands).map(b =>
        StableHash.bandKey((0 until rows).map(r => col(s"sig${b * rows + r}")))))
      .select("id1", "id2").distinct()

  /** LSH candidate pairs from text: shingle hashes, a MinHash signature
    * `bands`·`rows` wide, then [[lshBandPairs]].
    */
  def lshPairs(df: DataFrame, id: String, text: Column,
               k: Int, bands: Int, rows: Int): DataFrame = {
    val hashed = hashedShingles(df, text, k, Seq(col(id)))
    val sigDf = withMinhashSigs(hashed.select(col(id), col("__hs")),
      col("__hs"), bands * rows).drop("__hs")
    lshBandPairs(sigDf, id, bands, rows)
  }

  /** SimHash fingerprint (bits-wide, default 32): per token-hash bit j,
    * sum ±1 across tokens; fingerprint bit j set iff the sum is positive.
    * Implemented as a generated aggregate — one groupBy over exploded
    * tokens (or equivalently a per-row fold; the aggregate form keeps the
    * token explode reusable for other stats).
    */
  def simhashAgg(bits: Int): Seq[Column] =
    (0 until bits).map { j =>
      sum((shiftright(col("th"), j).bitwiseAND(lit(1L)) * 2 - 1)).as(s"b$j")
    }

  /** DuckDB twins of [[simhashAgg]] and the fingerprint fold — generated
    * beside the Spark expressions so every oracle (d5, d9, tp1) shares one
    * simhash definition. `simhashBitSumsSql` aggregates over a CTE exposing
    * per-token hashes as `th`; `simhashFpSql` folds the `b<j>` sums.
    */
  def simhashBitSumsSql(bits: Int): String =
    (0 until bits).map(j =>
      s"CAST(sum(((th >> $j) & 1) * 2 - 1) AS BIGINT) AS b$j")
      .mkString(",\n               ")

  def simhashFpSql(bits: Int): String =
    (0 until bits).map(j =>
      s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")

  /** Per-row simhash over an already-hashed token array — ONE narrow pass,
    * no explode/groupBy/join-back: bit j is set iff
    * 2·|{h : bit_j(h) = 1}| − n > 0, identical to [[simhash]]'s grouped
    * ±1 sums (DedupOpsSpec pins the equality). The grouped form pays off
    * when the token explode is reused for other per-token stats; this is
    * the single-pass map for pipelines that only need the fingerprint.
    */
  def simhashCol(tokenHashes: Column, bits: Int): Column =
    (0 until bits).map { j =>
      when(size(filter(tokenHashes,
          h => shiftright(h, j).bitwiseAND(lit(1L)) === 1L)) * 2
          > size(tokenHashes),
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def simhash(df: DataFrame, id: String, text: Column, bits: Int = 32): DataFrame = {
    val tok = parallelize(df.select(col(id), text.as("__txt")))
      .select(col(id), explode(split(col("__txt"), " ")).as("t"))
      .select(col(id), StableHash.polyHash(col("t")).as("th"))
    val summed = tok.groupBy(col(id)).agg(simhashAgg(bits).head, simhashAgg(bits).tail: _*)
    val fp = (0 until bits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    summed.select(col(id), fp.as("simhash"))
  }

  /** Hamming-LSH near-dup pairs over simhash fingerprints: band the
    * `bits`-wide fingerprint into `bands` equal slices and self-join on
    * (band index, slice value) — two docs are candidates iff they share at
    * least one identical slice — then verify candidates exactly with the
    * hamming distance (bit_count of xor), keeping pairs ≤ `maxHamming`.
    * The generate-then-verify shape of [[lshPairs]] applied to the simhash
    * tier: candidate cost is bounded by per-slice bucket sizes, never
    * |docs|²; the semantics (share-a-band AND hamming ≤ h) are exactly
    * what the oracle reproduces, so the operator is hash-checkable.
    */
  def simhashBandPairs(df: DataFrame, id: String, text: Column, bits: Int,
                       bands: Int, maxHamming: Int): DataFrame = {
    require(bands > 0 && bits % bands == 0,
      s"bits=$bits must divide into bands=$bands equal slices")
    val w = bits / bands
    val mask = (1L << w) - 1
    // per-row single-pass fingerprint (simhashCol ≡ the grouped simhash —
    // DedupOpsSpec pins the equality): no token explode/groupBy/join-back
    // before the pair join
    val fps = parallelize(df.select(col(id), text.as("__txt")))
      .select(col(id),
        transform(split(col("__txt"), " "), t => StableHash.polyHash(t)).as("__th"))
      .select(col(id), simhashCol(col("__th"), bits).as("simhash"))
    val slices = (0 until bands).map(b =>
      shiftright(col("simhash"), b * w).bitwiseAND(lit(mask)))
    bandJoin(fps, id, slices, Seq("simhash"))
      // verify BEFORE the distinct: the hamming test is a per-row bitop on
      // columns already in hand, so failing candidates never ride the
      // dedup shuffle (clustered corpora make hot slices quadratic in
      // candidates but few survive a tight hamming bound)
      .select(col("id1"), col("id2"),
        bit_count(col("simhash1").bitwiseXOR(col("simhash2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** DuckDB twin of the band-share condition: OR over equal slices. */
  def simhashBandShareSql(aFp: String, bFp: String, bits: Int, bands: Int): String = {
    val w = bits / bands
    val mask = (1L << w) - 1
    (0 until bands).map(b =>
      s"((($aFp >> ${b * w}) & $mask) = (($bFp >> ${b * w}) & $mask))")
      .mkString(" OR ")
  }

  // ---- 64-bit simhash (two 32-bit lanes) ---------------------------------

  /** Affine lane constants deriving two independent full-width 32-bit token
    * hashes from one polyHash: lane(h) = (h·a + b) mod 2³². polyHash lands
    * in [0, P) ≈ 30 bits, so using it directly as a fingerprint lane would
    * pin the top bits to 0; the mod-2³² affine rehash fills all 32. The
    * product stays < 2⁶⁰ (h < 2³⁰, a < 2³⁰), so the identical arithmetic
    * runs overflow-free as BIGINT in DuckDB — which is also why the 64-bit
    * fingerprint lives in TWO 32-bit lane columns instead of one signed
    * long: every value stays non-negative and below 2³², no engine needs
    * two's-complement shift semantics to agree, and the design extends to
    * 128-bit (4 lanes) for free.
    */
  val LANE_M: Long = 1L << 32
  val laneParams: Seq[(Long, Long)] = Seq(
    (2654435761L % StableHash.P, 2246822519L % StableHash.P),
    (3266489917L % StableHash.P, 668265263L % StableHash.P))

  private def laneHashes(th: Column, lane: Int): Column = {
    val (a, b) = laneParams(lane)
    transform(th, h => (h * a + b) % LANE_M)
  }

  private def laneHashesSql(th: String, lane: Int): String = {
    val (a, b) = laneParams(lane)
    s"(($th * $a + $b) % $LANE_M)"
  }

  /** 64-bit simhash as (sim_hi, sim_lo) 32-bit lanes — the industry-norm
    * fingerprint width (Charikar simhash as deployed for web dedup uses 64
    * bits; 32 collides heavily on clustered corpora — d10's corpus has 98
    * exact 32-bit collisions in 500 docs). Same single-pass per-row shape
    * as [[simhashCol]], one narrow projection, no explode/groupBy.
    */
  def simhash64(df: DataFrame, id: String, text: Column): DataFrame =
    parallelize(df.select(col(id), text.as("__txt")))
      .select(col(id),
        transform(split(col("__txt"), " "), t => StableHash.polyHash(t)).as("__th"))
      // lane arrays materialized in their own projection: each is
      // referenced 64× by the per-bit filters below — CollapseProject
      // keeps multi-referenced aliases, so the rehash runs once per token
      .select(col(id), laneHashes(col("__th"), 0).as("__tl"),
        laneHashes(col("__th"), 1).as("__thh"))
      .select(col(id), simhashCol(col("__thh"), 32).as("sim_hi"),
        simhashCol(col("__tl"), 32).as("sim_lo"))

  /** Hamming-LSH pairs over the 64-bit fingerprint: `bands` slices per
    * 32-bit lane (2·bands total — docs are candidates iff ANY slice
    * matches), exact verify hamming = popcount(hi⊕hi′) + popcount(lo⊕lo′)
    * ≤ `maxHamming`. Same generate-then-verify economics as
    * [[simhashBandPairs]]; twice the bands at the same slice width means
    * the candidate recall of 64-bit banding matches the 32-bit tier's
    * while the verify is 2× more selective.
    */
  def simhash64BandPairs(df: DataFrame, id: String, text: Column,
                         bandsPerLane: Int, maxHamming: Int): DataFrame = {
    require(bandsPerLane > 0 && 32 % bandsPerLane == 0,
      s"bandsPerLane=$bandsPerLane must divide 32")
    val w = 32 / bandsPerLane
    val mask = (1L << w) - 1
    // bands 0 until bandsPerLane slice sim_lo, the rest slice sim_hi
    val slices = Seq("sim_lo", "sim_hi").flatMap(lane =>
      (0 until bandsPerLane).map(b =>
        shiftright(col(lane), b * w).bitwiseAND(lit(mask))))
    bandJoin(simhash64(df, id, text), id, slices, Seq("sim_hi", "sim_lo"))
      // verify before the distinct, as in simhashBandPairs: failing
      // candidates never ride the dedup shuffle
      .select(col("id1"), col("id2"),
        (bit_count(col("sim_hi1").bitwiseXOR(col("sim_hi2"))) +
          bit_count(col("sim_lo1").bitwiseXOR(col("sim_lo2")))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** DuckDB twin of the per-lane simhash: CTE tail `f(id, sim_hi, sim_lo)`
    * from a token-hash CTE exposing `th`. Generated beside the Spark
    * expressions (one fingerprint definition), like [[simhashBitSumsSql]].
    */
  def simhash64CteSql(docTable: String, idCol: String, textCol: String): String = {
    val sums = (lane: String, pfx: String) => (0 until 32).map(j =>
      s"CAST(sum((($lane >> $j) & 1) * 2 - 1) AS BIGINT) AS $pfx$j")
      .mkString(",\n               ")
    val fold = (pfx: String) => (0 until 32).map(j =>
      s"(CASE WHEN $pfx$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT $idCol, unnest(string_split($textCol, ' ')) AS tk FROM $docTable),
        th0 AS (SELECT $idCol, ${StableHash.polyHashSql("tk")} AS th FROM tok),
        lanes AS (SELECT $idCol, ${laneHashesSql("th", 0)} AS tl,
                         ${laneHashesSql("th", 1)} AS thh FROM th0),
        s AS (SELECT $idCol, ${sums("tl", "l")},
               ${sums("thh", "h")}
              FROM lanes GROUP BY $idCol),
        f AS (SELECT $idCol, ${fold("h")} AS sim_hi, ${fold("l")} AS sim_lo FROM s)"""
  }

  /** Exact n-gram Jaccard for pairs sharing ≥1 shingle, via inverted-index
    * self-join: |A∩B| from the posting-list join, sizes from per-doc counts,
    * J = inter / (|A| + |B| − inter). Blocked on `blockCol` to bound
    * posting-list fan-out.
    *
    * `maxPostingLen` is the stop-shingle cap: a posting list longer than
    * the cap is DROPPED before pair generation. Pair cost per shingle is
    * O(len²), so one boilerplate shingle shared by p docs (a site header,
    * a license banner) contributes p² pairs — at 100 TB a single hot
    * shingle makes the stage quadratic in corpus size. Dropping it is the
    * standard stop-word move and is *principled* for Jaccard: a shingle in
    * p of N docs contributes at most 1/|A∪B| to any pair's score while
    * costing p² — the discriminating signal lives in RARE shingles. The
    * cap bounds worst-case pairs at |shingles|·cap², independent of doc
    * distribution. Semantics change only for pairs whose overlap includes
    * a dropped shingle (their `inter` undercounts by the number of dropped
    * shared shingles); a cap above the corpus's max list length is exactly
    * the uncapped operator (the d6 gate runs in that regime, so the oracle
    * needs no cap mirror).
    */
  def ngramJaccard(df: DataFrame, id: String, text: Column, k: Int,
                   blockCol: Option[Column],
                   maxPostingLen: Int = Int.MaxValue): DataFrame = {
    // Join on shingle *hashes*, not strings: 8-byte keys shuffle ~5× less
    // data than the shingle text at scale (and match the oracle's hashed
    // posting list exactly).
    val base = hashedShingles(df,
      text, k, col(id) +: blockCol.map(_.as("blk")).toSeq)
    // Posting-list pair generation instead of a self-join: group the
    // exploded postings by shingle, emit in-array pair combinations, then
    // count per pair. The doc set is scanned/hashed ONCE and the plan has
    // two shuffles (by shingle, by pair) instead of a self-join's two
    // sorted exchanges over independently recomputed inputs. Posting lists
    // are short by construction (distinct shingles); at web scale you cap
    // them (stop-shingles), which bounds the quadratic term per list.
    val keepCols = Seq(col(id).as("pid"), size(col("__hs")).as("nsh")) ++
      (if (blockCol.isDefined) Seq(col("blk")) else Nil)
    val posting = explodeRows(base, keepCols, col("__hs"), "s")
    val groupKeys = Seq(col("s")) ++ (if (blockCol.isDefined) Seq(col("blk")) else Nil)
    val grouped = posting.groupBy(groupKeys: _*)
      .agg(collect_list(struct(col("pid"), col("nsh"))).as("ps"))
    // stop-shingle cap: drop hot posting lists BEFORE the n² pair lambda —
    // a size() filter on the just-aggregated array, zero extra shuffle.
    // (Dropping beats sampling here: a sampled hot list would yield pairs
    // whose `inter` depends on which members survived — nondeterministic
    // scores — while a dropped list changes every affected pair the same
    // way and keeps the operator deterministic.)
    val lists = if (maxPostingLen == Int.MaxValue) grouped
      else grouped.filter(size(col("ps")) <= maxPostingLen)
    val pairs = explodeRows(lists, Nil, flatten(
      transform(col("ps"), a => filter(
        transform(col("ps"), b => when(a("pid") < b("pid"),
          struct(a("pid").as("id1"), b("pid").as("id2"),
            a("nsh").as("n1"), b("nsh").as("n2")))),
        x => x.isNotNull))), "p")
    pairs.groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("inter"), first(col("p.n1")).as("n1"),
        first(col("p.n2")).as("n2"))
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
  }

  /** Connected components over an undirected candidate-pair edge list —
    * the dedup-GROUPS step after LSH pair generation (every production
    * dedup pipeline ends with "collapse pairs into clusters, keep one doc
    * per cluster"). Iterative min-label propagation: each round is one
    * equi-join + one min-aggregate, converging in O(component diameter)
    * rounds of propagation alone; each round additionally composes the
    * label map with itself (pointer jumping: component ← label(component)),
    * which doubles the reach per round → O(log diameter) convergence, so a
    * long near-dup chain (common in shingle dedup) cannot exhaust maxIter;
    * [[Blocks.iterate]] checkpoints each round, truncating the lineage.
    *
    * Output: (id, component) for EVERY node in `nodes` — component = the
    * minimum id reachable, so singletons map to themselves and each dup
    * cluster gets its canonical (minimum) doc as representative.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, idCol: String,
                          src: String, dst: String, maxIter: Int = 30): DataFrame = {
    // edges referencing ids outside `nodes` are dropped up front (two
    // one-time semi-joins): otherwise an out-of-nodes endpoint could
    // become a component label or transitively merge in-node components
    val nodeIds = nodes.select(col(idCol).as("id"))
    // symmetrize via explode, NOT union(edges, swapped-edges): a union of
    // two selects over the same unmaterialized plan evaluates the (often
    // expensive — LSH candidate generation) edge plan twice before the
    // checkpoint; the explode emits both directions from one pass
    val symPlan = edges
      .select(explode(array(
        struct(col(src).as("a"), col(dst).as("b")),
        struct(col(dst).as("a"), col(src).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .join(nodeIds.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(nodeIds.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
      // (measured: pre-partitioning sym on the probe key before the
      // checkpoint does NOT pay off here — AQE re-plans the per-round
      // joins anyway and the extra up-front exchange is pure cost)
    val labels = Blocks.using(symPlan) { sym =>
      // iterate ONLY over nodes that touch an edge: everything else is its
      // own singleton component and never changes — at dedup scale that is
      // the overwhelming majority of the corpus, so the loop tables shrink
      // from |nodes| to |dup-cluster members|. Seeding with the first hop
      // (component = min(id, direct neighbors)) also saves one full round.
      val seed = sym.groupBy(col("a"))
        .agg(min(col("b")).as("mb"))
        .select(col("a").as("id"), least(col("a"), col("mb")).as("component"))
      // converged: no label moved (the `__old` column carried below)
      val stable = (next: DataFrame) =>
        next.filter(col("component") < col("__old")).isEmpty
      Blocks.iterate(seed, maxIter, Some(stable)) { labels =>
        val nbrMin = sym
          .join(labels.select(col("id").as("b"), col("component").as("nc")), Seq("b"))
          .groupBy(col("a")).agg(min(col("nc")).as("min_nbr"))
          .withColumnRenamed("a", "id")
        // carry the previous label through the SAME frame: the convergence
        // check reads the checkpointed result instead of re-joining old labels
        // (halves the per-round job count — rounds are the cost of iterative CC)
        val hooked = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("component").as("__old"),
            least(col("component"),
              coalesce(col("min_nbr"), col("component"))).as("component"))
        // pointer jump: component ← label(component), joined against the
        // PREVIOUS round's already-materialized labels (no extra checkpoint).
        // Every label is itself a node id whose own label is connected to it,
        // so the composed label stays within the component; reach r+1 (hook)
        // composed with reach r (labels) ≈ doubles per round → O(log d).
        hooked.join(
            labels.select(col("id").as("component"), col("component").as("__jump")),
            Seq("component"), "left")
          .select(col("id"), col("__old"),
            coalesce(col("__jump"), col("component")).as("component"))
      }
    }
    // edgeless nodes re-enter as their own component
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Keep-first streaming-style dedup on an id key (batch form of
    * `dropDuplicates`): deterministic representative by (orderCol, tieCol).
    */
  def keepFirst(df: DataFrame, key: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Sub-document (chunk/paragraph) exact dedup with document reassembly —
    * the CCNet/Dolma "line-level dedup" shape: a boilerplate passage shared
    * by thousands of docs is removed from every doc but its first, and each
    * doc is rebuilt from its surviving chunks in original order.
    *
    * The corpus here has no newline structure, so a "paragraph" is a run of
    * `chunkTokens` whitespace tokens (fixed-width chunking — what you fall
    * back to when the text has no natural paragraph marks). Plan shape, and
    * why it survives 100 TB: chunking is a narrow fan-out in the scan
    * projection; keep-first is ONE shuffle keyed by the chunk text (dup
    * chunks co-locate; key cardinality ≈ corpus size, no hot key because
    * the window per chunk value holds only its duplicates); reassembly is
    * ONE shuffle back on the doc id with collect_list + array_sort — never
    * a global sort, never a driver loop. Output per input doc:
    * (id, n_chunks, n_kept, kept_text) — kept_text = "" when every chunk of
    * a doc appeared earlier elsewhere.
    */
  /** Edit-distance near-dup pairs — the OCR-noise / typo-variant dedup
    * family (minhash/simhash see token sets; single-character corruptions
    * need a character-level metric). Generate-then-verify with the block
    * condition part of the OPERATOR semantics (like d10's bands, so an
    * oracle reproduces it exactly): candidates share their first two
    * tokens, are length-compatible within `tau` on the compared prefix,
    * and are verified by exact `levenshtein(prefix, prefix) <= tau`.
    *
    * Scale shape: ONE shuffle on the block key; pair generation is
    * quadratic only within a block (two-token keys ≈ vocab² blocks, so
    * blocks stay tiny — same bounded-posting-list argument as d6); the
    * O(prefix²) DP runs per surviving candidate, never per corpus pair.
    * Comparing a bounded prefix (not the full document) is what caps the
    * per-pair cost — document-length near-dups belong to minhash (d3/d4);
    * this tier catches near-identical SHORT fields and corrupted copies.
    */
  def editDistancePairs(df: DataFrame, id: String, text: Column,
                        prefixChars: Int, tau: Int): DataFrame = {
    val base = df.select(col(id).as("__eid"),
      substring(text, 1, prefixChars).as("__p"),
      array_join(slice(split(text, " "), 1, 2), " ").as("__blk"))
    val a = base.select(col("__blk"), col("__eid").as("id1"), col("__p").as("p1"))
    val b = base.select(col("__blk"), col("__eid").as("id2"), col("__p").as("p2"))
    a.join(b, Seq("__blk"))
      .filter(col("id1") < col("id2"))
      // levenshtein(a, b) >= |len(a) - len(b)|: free pre-prune before the DP
      .filter(abs(length(col("p1")) - length(col("p2"))) <= tau)
      // thresholded form: the DP early-exits (returns -1) once the running
      // minimum exceeds tau — banded O(prefix·tau) instead of O(prefix²)
      // per candidate, exact distance for every pair that survives
      .withColumn("dist", levenshtein(col("p1"), col("p2"), tau))
      .filter(col("dist") >= 0 && col("dist") <= tau)
      .select("id1", "id2", "dist")
  }

  def chunkDedup(df: DataFrame, text: Column, idCol: String,
                 chunkTokens: Int): DataFrame = {
    // chunking stays in the scan projection (narrow): token array →
    // n_chunks → per-chunk (idx, text) via ONE posexplode — n_chunks rides
    // each chunk row so reassembly needs no second join against the input
    val exploded = df
      .select(col(idCol), split(text, " ").as("__ts"))
      .select(col(idCol), col("__ts"),
        ceil(size(col("__ts")) / lit(chunkTokens.toDouble)).cast("int")
          .as("n_chunks"))
      .select(col(idCol), col("n_chunks"),
        posexplode(transform(sequence(lit(1), col("n_chunks")),
          i => array_join(slice(col("__ts"),
            (i - 1) * chunkTokens + 1, lit(chunkTokens)), " "))))
      .withColumnRenamed("pos", "__p")
      .select(col(idCol), col("n_chunks"),
        (col("__p") + 1).cast("int").as("chunk_idx"), col("col").as("chunk"))
    // keep-first occurrence by global (id, chunk_idx) order — one shuffle
    // on the chunk value
    val w = Window.partitionBy(col("chunk")).orderBy(col(idCol), col("chunk_idx"))
    val kept = exploded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    // reassemble: one shuffle back on the doc id; order restored by
    // array_sort over (chunk_idx, chunk) structs (chunk_idx unique per doc)
    val rebuilt = kept
      .groupBy(col(idCol), col("n_chunks"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          x => x("chunk")), " ").as("kept_text"))
    df.select(col(idCol),
        ceil(size(split(text, " ")) / lit(chunkTokens.toDouble)).cast("int")
          .as("n_chunks"))
      .join(rebuilt.drop("n_chunks"), Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  // ---------------------------------------------------------------------
  // Substring-level (span) dedup — the exact-substring tier below document
  // and chunk granularity: find the REGIONS of each document whose k-token
  // windows also occur in other documents (boilerplate, licenses, quoted
  // web chrome), rather than deciding keep/drop per whole doc. The classic
  // suffix-array formulation is a single-machine algorithm; the
  // Spark-native shape is positional shingling: every k-gram occurrence
  // keyed by its hash, one shuffle to find cross-doc hashes, and a per-doc
  // window merge of hit positions into maximal spans. All stages are keyed
  // (shingle hash, then doc id) — nothing is all-pairs and no stage holds
  // more than one document's positions in a window frame.
  // ---------------------------------------------------------------------

  /** One row per k-gram POSITION (1-based), with the gram's [[StableHash]]
    * WIDE (~60-bit, `polyHash64`) fingerprint: (doc_id, pos, h). Unlike
    * [[hashedShingles]] this keeps
    * duplicates and positions — the unit of span dedup is the occurrence,
    * not the distinct shingle.
    *
    * Shape (measured, sf0.1): explode the POSITIONS first, build the gram
    * AFTER the explode — `slice` + `array_join` + the codegen
    * [[StableHash.polyHash]] all run on real columns inside one
    * whole-stage-codegen pipeline. The tempting inverse (build a
    * per-doc gram/hash array in a `transform` lambda, then posexplode)
    * evaluates the lambda INTERPRETED, and a k-wide `element_at` chain in
    * it cost 20+ s where this spelling costs 0.3 s (~80×). The token
    * array formally rides the explode, but Generate and the gram
    * projection fuse into the same codegen stage, so rows stream through
    * without materializing a per-position copy of `__ts`.
    */
  def positionalShingleHashes(df: DataFrame, id: String, text: Column,
                              k: Int): DataFrame = {
    val first = parallelize(df.select(col(id), split(text, " ").as("__ts")))
    first
      .select(col(id), col("__ts"),
        explode(when(size(col("__ts")) >= k,
          sequence(lit(1), size(col("__ts")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col(id), col("pos").cast("int").as("pos"),
        StableHash.polyHash64(
          array_join(slice(col("__ts"), col("pos"), lit(k)), " ")).as("h"))
  }

  /** Maximal cross-doc duplicate spans: positions whose k-gram hash occurs
    * in ≥ 2 distinct docs, merged while overlapping or adjacent (gap ≤ k).
    * Output: (id, span_id, span_start, span_end), spans disjoint and
    * non-adjacent within a doc by construction.
    *
    * Scale shape: "occurs in ≥2 distinct docs" is decided per occurrence
    * as `min(doc) ≠ max(doc)` over a whole-partition window keyed by `h` —
    * ONE pass over ONE h-keyed exchange, instead of the groupBy-then-
    * self-join spelling that scans and re-shingles the corpus twice (and
    * would broadcast an unboundedly large dup-hash set at scale). The
    * island merge then keys on the doc id with a frame bounded by one
    * doc's hit count. Hash collisions are not corrected — a colliding
    * gram is marked duplicate under the fingerprint, exactly as
    * production suffix-free pipelines behave — which is why the
    * fingerprint must be WIDE: [[StableHash.polyHash64]]'s ~2^60 range
    * puts the cross-doc birthday bound near 10^9 distinct grams (the
    * single-prime ~2^30 tier starts manufacturing false dup spans, and
    * d17 deleting non-duplicate text, around only ~50k grams). The oracle
    * applies the identical paired fold, so parity is bit-exact.
    */
  def dupSpans(df: DataFrame, id: String, text: Column, k: Int): DataFrame = {
    val ph = positionalShingleHashes(df, id, text, k)
    val byH = Window.partitionBy("h")
    val hits = ph
      .withColumn("__mn", min(col(id)).over(byH))
      .withColumn("__mx", max(col(id)).over(byH))
      .filter(col("__mn") =!= col("__mx"))
      .select(col(id), col("pos"))
    mergeSpans(hits, id, k)
  }

  /** Island merge shared by the span-dedup tiers: hit positions →
    * (id, span_id, span_start, span_end), spans disjoint and non-adjacent
    * within a doc (gap ≤ k merges). Doc-keyed window, frame bounded by
    * one doc's hit count.
    */
  private def mergeSpans(hits: DataFrame, id: String, k: Int): DataFrame = {
    val w = Window.partitionBy(id).orderBy("pos")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__new",
        when(lag(col("pos"), 1).over(w).isNull, 1)
          .when(col("pos") - lag(col("pos"), 1).over(w) > k, 1)
          .otherwise(0))
      .withColumn("span_id", sum(col("__new")).over(cum).cast("int"))
      .groupBy(col(id), col("span_id"))
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("int").as("span_end"))
  }

  /** Incremental span dedup — the per-ingest form of [[dupSpans]] (d15's
    * anti-join discipline lifted from doc fingerprints to positional
    * span hashes): a NEW BATCH's dup spans are computed against the
    * persisted gram-hash STORE of the historical corpus, never by
    * re-shingling history. A batch gram position is a hit iff its wide
    * fingerprint exists in the store (h-keyed semi-probe — at scale the
    * store parquet is bucketed on h, so the probe rides the batch's own
    * h-exchange and history bytes never move) OR the gram occurs in ≥ 2
    * distinct docs WITHIN the batch (same min≠max window as the batch
    * form). Equivalence (pinned by SpanDedupSpec): because "duplicate" is
    * symmetric and history is exactly the non-batch corpus, this equals
    * the full-corpus [[dupSpans]] restricted to batch docs — the
    * incremental path loses nothing.
    *
    * `store` must be a 1-column frame of distinct gram hashes named `h`
    * (the output of [[spanHashStore]], typically read back from parquet).
    * Only batch-scale rows ride the window exchange; the store
    * contributes one build side of one keyed join.
    */
  def incrementalDupSpans(batch: DataFrame, store: DataFrame, id: String,
                          text: Column, k: Int): DataFrame = {
    val ph = positionalShingleHashes(batch, id, text, k)
    val byH = Window.partitionBy("h")
    val hits = ph
      .withColumn("__mn", min(col(id)).over(byH))
      .withColumn("__mx", max(col(id)).over(byH))
      .join(store.select(col("h").as("__sh")).distinct(),
        col("h") === col("__sh"), "left")
      .filter(col("__mn") =!= col("__mx") || col("__sh").isNotNull)
      .select(col(id), col("pos"))
    mergeSpans(hits, id, k)
  }

  /** The compact persisted state [[incrementalDupSpans]] probes: distinct
    * positional-gram fingerprints of a corpus — one h-keyed aggregate,
    * O(distinct grams) rows regardless of corpus bytes. A production
    * pipeline writes this bucketed by h and refreshes it per ingest by
    * unioning the batch's own store rows (append-only, no history
    * re-scan — the d15 maintenance rule).
    */
  def spanHashStore(df: DataFrame, id: String, text: Column,
                    k: Int): DataFrame =
    positionalShingleHashes(df, id, text, k).select("h").distinct()

  /** Remove every dup-span token from each document (the "apply" of span
    * dedup): tokens at covered positions drop, the remainder is re-joined
    * in order. Covered positions explode from the (already disjoint)
    * spans, so the anti-join key set is exactly the dup region — bounded
    * by Σ span lengths, never by |doc|². One doc-keyed anti join + one
    * doc-keyed rebuild.
    * Output: (id, n_tokens, n_kept, clean_text) — one row per input doc.
    */
  def spanClean(df: DataFrame, id: String, text: Column, k: Int): DataFrame = {
    val covered = dupSpans(df, id, text, k)
      .select(col(id),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = df.select(col(id), posexplode(split(text, " ")))
      .select(col(id), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("tok"))
    val rebuilt = toks.join(covered, Seq(id, "pos"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ").as("clean_text"))
    df.select(col(id), size(split(text, " ")).cast("int").as("n_tokens"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("n_kept"), lit(0)).cast("int").as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
