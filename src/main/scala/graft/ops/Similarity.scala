package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.StableHash

/** Similarity search over an embedding column (builder-prompt first-class
  * extension): brute-force cosine top-k as the exact baseline, and a
  * hyperplane-LSH bucketed variant as the scale path.
  *
  * Numeric discipline: the dot product is a *sequential left fold* in
  * double ([[dot]]) — element order is fixed, so Spark and the DuckDB
  * oracle produce bit-identical scores, which keeps top-k ranking
  * deterministic without any tolerance band.
  *
  * Scale notes: brute force is O(|Q|·|N|·d) — fine when the query side is
  * broadcastable (the pattern here). For |Q| ≈ |N| at 100 TB, use
  * [[hyperplaneBucket]]: each vector lands in 2^H sign-pattern buckets; the
  * join is per-bucket (candidate generation), with exact re-ranking only on
  * candidates — the same generate-then-verify shape as [[Dedup.lshPairs]].
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns in double —
    * codegen'd custom expression ([[graft.functions.SeqDotExpr]]); same
    * accumulation order as the interpreted
    * `aggregate(zip_with(...), 0.0, _+_)`, so scores stay bit-identical to
    * the oracle.
    */
  def dot(a: Column, b: Column): Column = graft.functions.Exprs.seqDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-traversal kernel ([[graft.functions.CosineExpr]]):
    * bit-identical to `dot(a,b) / (norm(a) * norm(b))` — same index-order
    * accumulation per term — but reads each array once instead of the
    * composed form's three traversals (five with the norms' duplicated
    * children), so every candidate-verify join in the sim family does a
    * third of the memory work.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.Exprs.cosine(a, b)

  /** DuckDB twins — same fold order, same expression tree. */
  def dotSql(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, $dim), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
  def cosineSql(a: String, b: String, dim: Int): String =
    s"(${dotSql(a, b, dim)} / (sqrt(${dotSql(a, a, dim)}) * sqrt(${dotSql(b, b, dim)})))"

  /** Squared-L2 over the subspace [off, off+n) — the codegen'd
    * [[graft.functions.SeqL2Expr]] kernel: sequential left fold from 0.0,
    * so the DuckDB twin ([[l2SubSql]], 1-based list_reduce) is
    * bit-identical, without the n-term unrolled expression tree.
    */
  def l2Sub(a: Column, b: Column, off: Int, n: Int): Column =
    graft.functions.Exprs.seqL2(a, b, off, n)

  def l2SubSql(a: String, b: String, off: Int, n: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(${off + 1}, ${off + n}), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), (x, y) -> x + y)"

  /** Product-quantization ANN (the FAISS IVF-PQ memory-compression shape):
    * the vector space splits into `nSub` subspaces; every corpus vector is
    * ENCODED as its per-subspace nearest codeword (argmin over the
    * broadcast codebook, tie → lowest cid), and query↔vector distance is
    * approximated ADC-style — the query precomputes its distance to every
    * codeword per subspace (a |Q|·C·nSub table, broadcast), and a vector's
    * approximate distance is the fixed-order sum of table lookups at its
    * codes. At 100 TB the corpus is stored/joined as nSub SMALL ints per
    * vector (the compression), the scan side never rejoins the raw floats,
    * and the per-subspace lookup join is against a broadcast table.
    * Codewords here are a deterministic corpus subset (id predicate), like
    * [[ivfTopK]] — training (k-means per subspace) is orthogonal.
    */
  def pqTopK(emb: DataFrame, id: String, vec: String,
             centroidPred: Column, queryPred: Column,
             dim: Int, nSub: Int, k: Int): DataFrame = {
    require(dim % nSub == 0,
      s"pqTopK: nSub=$nSub must divide dim=$dim (trailing dims would be silently dropped)")
    val sub = dim / nSub
    // untrained codebook: per-subspace slices of a deterministic corpus
    // subset — the special case of [[pqTopKFrom]]'s explicit codebook
    val cent = emb.filter(centroidPred).select(col(id).as("cid"), col(vec).as("cv"))
    val codebook = (0 until nSub).map(mm =>
      cent.select(lit(mm).as("m"), col("cid"),
        slice(col("cv"), mm * sub + 1, sub).as("cv"))).reduce(_ unionByName _)
    pqTopKFrom(emb, id, vec, codebook, queryPred, dim, nSub, k)
  }

  /** PQ ANN against an EXPLICIT per-subspace codebook `(m, cid, cv)` (cv =
    * the sub-dim codeword) — the trained-codebook entry point: per-subspace
    * k-means ([[kmeansTrain]] over sliced vectors) feeds this, and
    * [[pqTopK]] is the untrained special case (AnnRecallSpec measures the
    * training gain).
    */
  def pqTopKFrom(emb: DataFrame, id: String, vec: String, codebook: DataFrame,
                 queryPred: Column, dim: Int, nSub: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim % nSub == 0,
      s"pqTopKFrom: nSub=$nSub must divide dim=$dim (trailing dims would be silently dropped)")
    val sub = dim / nSub
    def subDists(df: DataFrame, outId: String): DataFrame =
      df.crossJoin(broadcast(codebook))
        .select(col(id).as(outId), col("m"), col("cid"),
          l2Sub(slice(col(vec), col("m") * sub + 1, lit(sub)), col("cv"), 0, sub)
            .as("dist"))
    // encode the corpus: per subspace, the nearest codeword id
    val codes = subDists(Dedup.parallelize(emb.select(col(id), col(vec))), "neighbor_id")
      .groupBy(col("neighbor_id"), col("m"))
      .agg(min(struct(col("dist"), col("cid"))).getField("cid").as("code"))
    // query-side ADC distance table: (query_id, subspace, codeword, dist)
    val qd = subDists(emb.filter(queryPred).select(col(id), col(vec)), "query_id")
      .select(col("query_id"), col("m").as("qm"), col("cid").as("qcid"),
        col("dist").as("qd"))
    // lookup + fixed-order sum (one non-null slot per subspace → the
    // double addition order is literal, not shuffle-dependent)
    val qdSlots = (0 until nSub).map(mm =>
      sum(when(col("qm") === mm, col("qd"))).as(s"qd$mm"))
    val parts = codes.join(broadcast(qd),
        col("m") === col("qm") && col("code") === col("qcid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(qdSlots.head, qdSlots.tail: _*)
    val adist = (0 until nSub).map(mm => col(s"qd$mm")).reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    parts.filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Nearest-centroid assignment for the IVF family — every vector's
    * (ccos desc, cid asc)-best centroid, the row_number window's tie
    * order spelled as an argmax aggregate (r11, guide §2.3/§2.4).
    *
    * Why not the window: the C-way centroid fan-out of a vector is
    * CO-LOCATED by construction (a broadcast crossJoin fans out inside
    * the vector's own partition), yet `row_number over (partition by id)`
    * still exchanges AND sorts all N·C scored rows — with the full
    * embedding duplicated C ways through the shuffle. `max_by` does a
    * partial aggregate instead: the map side collapses each vector's C
    * candidates to ONE buffered row before the exchange, so N narrow
    * rows shuffle and nothing sorts globally. Selection is identical —
    * max over struct(ccos, −cid) is strictly monotone in the window's
    * (ccos desc, cid asc) order and (ccos, cid) pairs are distinct per
    * vector — which the unchanged oracle hashes of every IVF-family
    * query pin at the gate.
    *
    * Returns (id, vec, cid), plus the winning centroid's `cv` when
    * `carryCv` is set (the IVF-PQ residual path needs it).
    */
  def assignNearest(emb: DataFrame, id: String, vec: String,
                    cent: DataFrame, carryCv: Boolean = false): DataFrame = {
    val payload =
      if (carryCv) struct(col(vec), col("cid"), col("cv"))
      else struct(col(vec), col("cid"))
    val outCols = Seq(col(id), col(s"__top.$vec").as(vec),
        col("__top.cid").as("cid")) ++
      (if (carryCv) Seq(col("__top.cv").as("cv")) else Nil)
    Dedup.parallelize(emb.select(col(id), col(vec)))
      .crossJoin(broadcast(cent))
      .select(col(id), col(vec), col("cid"), col("cv"),
        cosine(col(vec), col("cv")).as("ccos"))
      .groupBy(col(id))
      .agg(max_by(payload,
        struct(col("ccos"), (-col("cid")).as("__neg"))).as("__top"))
      .select(outCols: _*)
  }

  /** Probe lists for an IVF query set: the query SUBSET filters first, so
    * ranking its C centroid scores is a |Q|·C window — the old spelling
    * extracted the |Q|·nprobe probe rows from a window over the full N·C
    * scored frame (r11; pairs with [[assignNearest]]).
    */
  def probeLists(emb: DataFrame, id: String, vec: String,
                 cent: DataFrame, queryPred: Column,
                 nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVec = Window.partitionBy(col(id))
      .orderBy(col("ccos").desc, col("cid"))
    emb.filter(queryPred).select(col(id), col(vec))
      .crossJoin(broadcast(cent))
      .select(col(id), col(vec), col("cid"), col("cv"),
        cosine(col(vec), col("cv")).as("ccos"))
      .withColumn("crn", row_number().over(byVec))
      .filter(col("crn") <= nprobe)
  }

  /** Brute-force top-k: broadcast the (small) query side against the full
    * corpus, rank per query by (score desc, neighbor id) — one broadcast
    * join + one window, no cartesian shuffle.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"))
    val scored = Dedup.parallelize(
        corpus.select(col(id).as("neighbor_id"), col(vec).as("nv")))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style ANN (the brief's "IVF or LSH-bucketed variant"): a fixed
    * centroid set partitions the corpus into inverted lists; a query probes
    * its `nprobe` nearest lists and re-ranks only those candidates exactly.
    *
    * Here centroids are a deterministic corpus subset (id-predicate) — the
    * k-means training step is orthogonal to the engine shape and would run
    * as a separate job at scale. Plan: centroid side is a broadcast (tiny),
    * assignment is a narrow scored projection + window argmin, and the
    * candidate join is an equi-join on the centroid id — the probe fan-out
    * is |query|·nprobe·(corpus/C), never |query|·|corpus|.
    */
  def ivfTopK(emb: DataFrame, id: String, vec: String,
              centroidPred: Column, queryPred: Column,
              nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = emb.filter(centroidPred)
      .select(col(id).as("cid"), col(vec).as("cv"))
    // assignment = partial-aggregable argmax, probe lists = a |Q|·C
    // window over the pre-filtered query subset (r11 — the shared N·C
    // `ranked` window these both came from shuffled and sorted the whole
    // scored frame; see [[assignNearest]])
    val assign = assignNearest(emb, id, vec, cent)
      .select(col(id).as("neighbor_id"), col(vec).as("nv"), col("cid"))
    val probes = probeLists(emb, id, vec, cent, queryPred, nprobe)
      .select(col(id).as("query_id"), col(vec).as("qv"), col("cid"))
    val cands = probes.join(assign, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ: the two-level production ANN (FAISS IVFPQ shape) — coarse
    * IVF lists bound the candidate set, and within a list distances are
    * approximated against PQ-encoded RESIDUALS (vector − its list
    * centroid), which is what makes PQ codes tight enough to rank with:
    * residuals are small and centered, raw vectors are not.
    *
    * Plan shape: one broadcast centroid scoring pass + window argmin
    * (assignment AND probe lists from the same ranked frame), residuals
    * as a narrow zip_with projection, corpus encoding against a broadcast
    * residual codebook (argmin per subspace), and the query-side ADC
    * table built PER PROBED LIST (the query's residual differs per list —
    * the defining IVF-PQ subtlety). Approximate distance = fixed-order
    * sum of nSub table lookups, so the double addition order is literal
    * and the oracle can mirror it exactly. At 100 TB the corpus carries
    * (cid + nSub small ints) per vector; raw floats never rejoin after
    * encoding. Codebook here = residuals of a deterministic subset
    * (untrained), like [[pqTopK]]; per-subspace k-means training is the
    * orthogonal quality lever.
    */
  def ivfPqTopK(emb: DataFrame, id: String, vec: String,
                centroidPred: Column, codebookPred: Column, queryPred: Column,
                dim: Int, nSub: Int, nprobe: Int, k: Int): DataFrame =
    ivfPqTopKFrom(emb, id, vec,
      emb.filter(centroidPred).select(col(id).as("cid"), col(vec).as("cv")),
      codebookPred, queryPred, dim, nSub, nprobe, k)

  /** [[ivfPqTopK]] against an EXPLICIT coarse-centroid table `(cid, cv)` —
    * the trained entry point ([[kmeansTrain]] feeds this). Corpus-honest
    * caveat (AnnRecallSpec pins the numbers): on the synthetic embeddings
    * — isotropic within-cluster noise — residual coding does NOT beat
    * raw-point PQ even with a trained coarse quantizer, because residuals
    * carry no structure an untrained sub-codebook can exploit; on real
    * corpora residual coding plus trained sub-codebooks is the production
    * win (the sim8 trained-codebook test shows that lever in isolation).
    */
  def ivfPqTopKFrom(emb: DataFrame, id: String, vec: String, cent: DataFrame,
                    codebookPred: Column, queryPred: Column,
                    dim: Int, nSub: Int, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim % nSub == 0,
      s"ivfPqTopKFrom: nSub=$nSub must divide dim=$dim")
    val sub = dim / nSub
    val res = zip_with(col(vec), col("cv"),
      (a, b) => a.cast("double") - b.cast("double"))
    // assignment carries the winning centroid's cv for the residual;
    // probe lists come from the pre-filtered query subset (r11 — see
    // [[assignNearest]]; the shared N·C window is gone)
    val assign = assignNearest(emb, id, vec, cent, carryCv = true)
      .select(col(id), col("cid"), res.as("res"))
    // untrained residual codebook: FULL residuals of a deterministic
    // subset, one row per subspace; codewords are compared as in-place
    // slices so the SQL twin can index full lists at the same offsets
    val cbRows = assign.filter(codebookPred)
      .select(col(id).as("ccid"), col("res").as("cbres"))
    val cb = (0 until nSub).map(mm =>
      cbRows.select(lit(mm).as("m"), col("ccid"), col("cbres")))
      .reduce(_ unionByName _)
    def dSub(a: Column) = l2Sub(
      slice(a, col("m") * sub + 1, lit(sub)),
      slice(col("cbres"), col("m") * sub + 1, lit(sub)), 0, sub)
    val codes = assign.crossJoin(broadcast(cb))
      .select(col(id).as("neighbor_id"), col("cid"), col("m"), col("ccid"),
        dSub(col("res")).as("d"))
      .groupBy(col("neighbor_id"), col("cid"), col("m"))
      .agg(min(struct(col("d"), col("ccid"))).getField("ccid").as("code"))
    // probes carry a residual PER probed list (crn <= nprobe rows each)
    val probes = probeLists(emb, id, vec, cent, queryPred, nprobe)
      .select(col(id).as("query_id"), col("cid"), res.as("res"))
    val qd = probes.crossJoin(broadcast(cb))
      .select(col("query_id"), col("cid").as("qlist"), col("m").as("qm"),
        col("ccid").as("qccid"), dSub(col("res")).as("qd"))
    val qdSlots = (0 until nSub).map(mm =>
      sum(when(col("qm") === mm, col("qd"))).as(s"qd$mm"))
    val parts = codes.join(broadcast(qd),
        col("cid") === col("qlist") && col("m") === col("qm") &&
          col("code") === col("qccid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(qdSlots.head, qdSlots.tail: _*)
    val adist = (0 until nSub).map(mm => col(s"qd$mm")).reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    parts.filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** One Lloyd iteration for IVF training (the k-means step behind
    * [[ivfTopK]]'s centroid set): assign every vector to its nearest
    * centroid — broadcast centroids, narrow scored projection, window
    * argmin — then recompute centroids as per-dimension decimal-exact
    * means. Output is FLAT (cid, pos, mean_v, n): the aggregate shuffles
    * on the tiny C×dim domain, and the flat shape is oracle-comparable.
    * At 100 TB each iteration = one broadcast + one narrow pass + one
    * small-domain shuffle; iterate by feeding the means back as centroids.
    */
  def kmeansStep(emb: DataFrame, id: String, vec: String,
                 centroidPred: Column): DataFrame =
    kmeansStepFrom(emb, id, vec,
      emb.filter(centroidPred).select(col(id).as("cid"), col(vec).as("cv")))

  /** One Lloyd iteration against an explicit centroid frame (cid, cv). */
  def kmeansStepFrom(emb: DataFrame, id: String, vec: String,
                     centroids: DataFrame): DataFrame = {
    // per-iteration assignment is the argmax aggregate (r11 — this is
    // kmeansTrain's inner loop, so the removed N·C exchange+sort was
    // paid once per Lloyd round; see [[assignNearest]])
    val assigned = assignNearest(emb, id, vec, centroids)
    assigned
      .select(col("cid"), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(Num.davg(col("v").cast("double")).as("mean_v"),
        count(lit(1)).as("n"))
  }

  /** Full k-means training: `iters` Lloyd rounds, each round's means fed
    * back as the next centroid set (rebuilt into array form by a sorted
    * collect over the tiny C×dim frame). The loop is a driver-side fold
    * over CENTROID frames ([[Blocks.iterate]]), never over the corpus;
    * per round the corpus sees one broadcast + one narrow pass + one
    * small-domain shuffle. Empty clusters drop out (their centroid
    * simply has no assigned rows), the standard Lloyd behavior.
    */
  def kmeansTrain(emb: DataFrame, id: String, vec: String,
                  seedPred: Column, iters: Int): DataFrame = {
    val seed = emb.filter(seedPred)
      .select(col(id).as("cid"),
        transform(col(vec), x => x.cast("double")).as("cv"))
    Blocks.iterate(seed, iters) { cent =>
      kmeansStepFrom(emb, id, vec, cent).groupBy("cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mean_v")))),
          x => x.getField("mean_v")).as("cv"))
    }
  }

  /** Near-duplicate pairs at scale: candidate generation by LSH-bucket
    * self-join — NEVER an all-pairs or low-cardinality-block join — with
    * exact cosine verification on candidates only. The within-bucket term
    * is quadratic only in bucket size, and the plane count is the knob:
    * 2^nPlanes buckets ⇒ expected bucket size N/2^nPlanes, so doubling
    * planes quarters the per-bucket work. Approximate by construction
    * (cross-bucket near-dups are missed — raise nPlanes bands or OR
    * multiple tables to trade recall for cost, as in [[Dedup.lshPairs]]).
    */
  def nearDupPairs(emb: DataFrame, id: String, vec: String,
                   dim: Int, nPlanes: Int, threshold: Double): DataFrame = {
    val b = Dedup.parallelize(emb.select(col(id), col(vec)))
      .select(col(id), col(vec),
        hyperplaneBucket(col(vec), dim, nPlanes).as("__bucket"))
    val l = b.select(col("__bucket"), col(id).as("id1"), col(vec).as("v1"))
    val r = b.select(col("__bucket"), col(id).as("id2"), col(vec).as("v2"))
    l.join(r, Seq("__bucket")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Semantic dedup APPLY (the SemDeDup shape: arXiv:2303.09540 —
    * cluster embeddings, drop all-but-one of each within-cluster near-dup
    * set): a vector is dropped iff some SMALLER-id vector in its LSH
    * bucket is within cosine > `threshold` (greedy keep-lowest-id, the
    * deterministic stand-in for keep-one-per-duplicate-set; the bucket is
    * the cluster stand-in — swap in kmeans assignment cids at scale).
    * Candidates come from [[nearDupPairs]] (bucket-blocked, never
    * all-pairs); the drop set is applied with one anti-join on the id —
    * corpus-sized shuffle on a unique key, no skew.
    */
  def semDedup(emb: DataFrame, id: String, vec: String,
               dim: Int, nPlanes: Int, threshold: Double): DataFrame = {
    val drops = nearDupPairs(emb, id, vec, dim, nPlanes, threshold)
      .select(col("id2").as(id)).distinct()
    emb.join(drops, Seq(id), "left_anti")
  }

  /** True-SemDeDup apply (arXiv:2303.09540 as published): k-means cluster
    * the embeddings, then WITHIN each cluster drop every vector that has a
    * smaller-id member within cosine > `threshold`. [[semDedup]] is the
    * LSH-bucket stand-in (bucket ≈ cluster); this is the real thing — the
    * cluster assignment comes from `iters` Lloyd rounds over a seed set
    * ([[kmeansTrain]]), so semantically-near vectors land in the same
    * block even when they straddle an LSH hyperplane.
    *
    * Scale shape: training touches the corpus `iters`× (broadcast +
    * narrow pass + tiny-domain shuffle each — see [[kmeansTrain]]); final
    * assignment is one more broadcast pass; the within-cluster pair join
    * shuffles once on the cluster id and is quadratic only in cluster
    * size (C is the knob: E[|cluster|] = N/C, so pair work is N²/C —
    * pick C ∝ N for linear total work, the SemDeDup paper's own recipe);
    * the apply is one anti-join on the unique id. No all-pairs join at
    * any stage.
    */
  def semDedupKmeans(emb: DataFrame, id: String, vec: String,
                     seedPred: Column, iters: Int,
                     threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // centroids are localCheckpoint'd by kmeansTrain and referenced
    // LAZILY by the returned plan — do not unpersist here (the caller's
    // action would hit truncated lineage); the blocks are tiny (C×dim).
    val cent = kmeansTrain(emb, id, vec, seedPred, iters)
    // final assignment rides the same argmax aggregate as training (r11)
    val assign = assignNearest(emb, id, vec, cent)
      .select(col(id), col(vec), col("cid"))
    val l = assign.select(col("cid"), col(id).as("id1"), col(vec).as("v1"))
    val r = assign.select(col("cid"), col(id).as("id2"), col(vec).as("v2"))
    val drops = l.join(r, Seq("cid")).filter(col("id1") < col("id2"))
      .filter(cosine(col("v1"), col("v2")) > threshold)
      .select(col("id2").as(id)).distinct()
    emb.join(drops, Seq(id), "left_anti")
  }

  /** Deterministic pseudo-random hyperplane component for (plane h, dim i):
    * hash → uniform in [−0.5, 0.5). Portable (StableHash) so the oracle can
    * reproduce the planes.
    */
  def planeComponent(h: Int, i: Int): Double = {
    val v = ((h.toLong * 7919L + i.toLong * 104729L + 12345L) * 2654435761L) % StableHash.P
    val m = ((v % StableHash.P) + StableHash.P) % StableHash.P
    m.toDouble / StableHash.P.toDouble - 0.5
  }

  /** Sign-pattern bucket id over `nPlanes` fixed hyperplanes: bit h = 1 iff
    * v · plane_h > 0. One narrow map — the shuffle happens only on the
    * (bucket) groupBy/join that follows.
    *
    * Each projection is ONE [[graft.functions.SeqDotExpr]] against a
    * literal double-array plane, not a dim-term expression tree: the
    * unrolled form was 64 terms × planes of codegen source whose janino
    * compile dominated small-batch latency. Same left-fold order ⇒ same
    * bits ⇒ same buckets as the oracle's explicit sum.
    */
  def hyperplaneBucket(vec: Column, dim: Int, nPlanes: Int, seed: Int = 0): Column =
    (0 until nPlanes).map { h =>
      val plane = lit((0 until dim).map(i => planeComponent(seed + h, i)).toArray)
      when(graft.functions.Exprs.seqDot(vec, plane) > 0, lit(1L << h))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  def hyperplaneBucketSql(vec: String, dim: Int, nPlanes: Int, seed: Int = 0): String =
    (0 until nPlanes).map { h =>
      val proj = (0 until dim).map(i =>
        s"CAST($vec[${i + 1}] AS DOUBLE) * (${planeComponent(seed + h, i)})").mkString(" + ")
      s"(CASE WHEN ($proj) > 0 THEN ${1L << h} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Multi-table LSH ANN: L independent tables of `nPlanes` hyperplanes
    * each (seeded per table); candidates = union of same-bucket vectors
    * across tables, deduped, then exact cosine re-rank to top-k. Recall
    * rises with L while the candidate bound stays L·|bucket| — the
    * standard LSH recall/cost knob (single-table recall at tight buckets
    * is poor; AnnRecallSpec pins the measured gap). One narrow bucketing
    * pass per table + one keyed join; never all-pairs.
    */
  def lshAnnMultiTable(emb: DataFrame, id: String, vec: String,
                       dim: Int, nPlanes: Int, nTables: Int,
                       queryPred: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Dedup.parallelize(emb.select(col(id), col(vec)))
    def bucketed(df: DataFrame): DataFrame = (0 until nTables).map { t =>
      df.select(col(id), col(vec),
        hyperplaneBucket(col(vec), dim, nPlanes, seed = t * 7919).as("bucket"),
        lit(t).as("tbl"))
    }.reduce(_ unionByName _)
    // bucket the full corpus ONCE (candidate side); the query side filters
    // FIRST, so its projections run over |Q| rows, not a second full pass
    val q = bucketed(base.filter(queryPred))
      .select(col(id).as("query_id"), col("tbl"), col("bucket"), col(vec).as("qv"))
    val cand = bucketed(base).select(col(id).as("neighbor_id"), col("tbl"),
      col("bucket"), col(vec).as("nv"))
    val scored = cand.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // score BEFORE the pair-dedup shuffle: a pair found by L' tables
      // computes its (identical) cosine L' times — a few SeqDot flops —
      // but the exchange then carries one double per pair instead of two
      // dim-float vectors, which is what dominates at corpus scale
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
