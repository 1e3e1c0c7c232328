package graft.sim

import graft.dedup.Dedup
import graft.util.AtomicStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (builder north-star scope).
  *
  * Baseline: brute-force cosine top-k (exact — also the oracle).
  * Scale path: random-hyperplane LSH bucketing — vectors only meet inside
  * a bucket, so the join is |bucket|² not n², and bucket signatures are
  * deterministic (fixed seed) for reproducible runs.
  */
object Similarity {

  private def asDouble(vecCol: Column): Column = transform(vecCol, _.cast("double"))

  /** Exact top-k neighbors of one query vector (broadcast as a literal) —
    * single scan + top-k, no shuffle of the corpus.
    */
  def topKForVector(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int
  ): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol), Dedup.cosine(asDouble(col(vecCol)), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact k-NN join: top-k neighbors for every vector via blocked
    * cross-join + ranking window. O(n²) compare — correct baseline and
    * oracle; use [[lshTopK]] beyond ~10⁵ vectors.
    */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val a = v.select(col(idCol).as("id1"), col("v").as("v1"))
    val b = v.select(col(idCol).as("id2"), col("v").as("v2"))
    val sims = a.crossJoin(b).where(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        Dedup.cosine(col("v1"), col("v2")).as("cosine"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Symmetric int8 scalar quantization of an embedding: l2-normalize,
    * then `round(x · 127)` per dimension into a tinyint array. |x| ≤ 1
    * after normalization, so ±127 is never exceeded and the scale is the
    * FIXED constant 1/127 — no data-dependent calibration pass, codes
    * written today comparable with codes written next year. 4× smaller
    * than float32 (8× vs double): the storage/bandwidth compression tier
    * below PQ (which is ~dim/m× but needs a trained codebook).
    */
  def sqEncode(vecCol: Column): Column =
    graft.plans.Expressions.sq8_encode(asDouble(vecCol))

  /** Top-k by quantized cosine: every (query, corpus) score is one fused
    * int8 dot ([[graft.plans.Expressions.Int8Dot]]); approx_cos =
    * dot/127². Exact integer scores make ranking fully deterministic
    * (ties by id) and bit-replayable by an external checker. Brute-force
    * over CODES — same O(n·q) compare count as [[knnJoin]] but scanning
    * 8× fewer bytes; compose with IVF cells for sublinear candidate
    * counts at corpus scale. The ranking window plans partial+final
    * WindowGroupLimit, so ≤k rows per query leave each partition.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), sqEncode(col(vecCol)).as("c8"))
    val q = queries.select(col(idCol).as("query_id"),
      sqEncode(col(vecCol)).as("q8"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        graft.plans.Expressions.int8_dot(col("q8"), col("c8")).as("dot"))
      .withColumn("approx_cos", col("dot").cast("double") / lit(127.0 * 127.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SQ×IVF composition — the scale form [[sqTopK]]'s own doc promises:
    * IVF cells prune the candidate set (each query scores only the
    * vectors in its `nprobe` probed cells — n·nprobe/nlist candidates
    * instead of n), int8 codes score them (same fused integer dot, same
    * fixed 1/127 scale, bit-identical scores to [[sqTopK]] on the pairs
    * both consider). The coarse quantizer is [[ivfTopK]]'s: a raw-vector
    * deterministic Lloyd's fit, argmin-L2² corpus assignment, cosine-
    * ranked probe cells — so the q_sq_ivf_ann oracle replays the whole
    * pipeline (fit + cells + codes + integer ranking) in SQL from the raw
    * table, nothing pinned.
    *
    * Scale shape: centroids broadcast (nlist × dim doubles); the corpus
    * is scanned once to (cell, code); candidates arise from a broadcast
    * HASH join on cell (queries × nprobe rows on the build side), each
    * (query, candidate) pair at most once — a corpus vector sits in
    * exactly one cell and probed cells are distinct. Per-partition
    * WindowGroupLimit caps what leaves each scan task at k rows/query.
    */
  def sqIvfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int, nlist: Int = 16,
                nprobe: Int = 4, seed: Long = 42L, iters: Int = 10,
                centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    // fit-once/serve-many: pass precomputed centroids to amortize the
    // coarse fit across queries (the serving shape — the fit is the
    // write-time cost, the pruned scan is the per-query cost)
    val cents = centroids.getOrElse(
      pqCodebooks(corpus, vecCol, dim, m = 1, codebookSize = nlist,
        seed = seed, iters = iters, normalizeInput = false).head)
    sqIvfServe(sqIvfEncode(corpus, idCol, vecCol, cents), queries, idCol,
      vecCol, k, cents, nprobe)
  }

  /** The WRITE-time half of the SQ×IVF index: one scan assigning each
    * vector to its nearest cell (fused argmin) and quantizing it to int8
    * codes — `(id, cell, c8)`. Persist/write this once; the per-query
    * cost is then only [[sqIvfServe]]'s pruned scan (the inline
    * assignment is n·nlist·dim multiply-adds, which at corpus scale
    * dwarfs any single batch's scoring — the same fit/serve split as the
    * persisted IVF-PQ index).
    */
  def sqIvfEncode(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[Seq[Double]]): DataFrame =
    corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"),
        graft.plans.Expressions.nearest_centroid(col("v"), centroids).as("cell"),
        graft.plans.Expressions.sq8_encode(col("v")).as("c8"))

  /** The SERVE-time half: queries probe their `nprobe` nearest cells and
    * integer-dot only those cells' codes — n·nprobe/nlist candidates per
    * query, WindowGroupLimit-bounded output.
    */
  def sqIvfServe(encoded: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, centroids: Seq[Seq[Double]],
                 nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .select(col("query_id"),
        graft.plans.Expressions.sq8_encode(col("qv")).as("q8"),
        explode(graft.plans.Expressions.nearest_centroids(
          col("qv"), centroids, nprobe)).as("cell"))
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        graft.plans.Expressions.int8_dot(col("q8"), col("c8")).as("dot"))
      .withColumn("approx_cos", col("dot").cast("double") / lit(127.0 * 127.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nlist` cells; a query only scans its `nprobe` nearest
    * cells. The standard FAISS-style recall/cost dial, built on the
    * engine's own distributed Lloyd's fit ([[pqCodebooks]] with m = 1 —
    * hash-sorted seeded init, order-fixed partial merge), which is
    * DETERMINISTIC down to the last double and replayable step-for-step
    * by the DuckDB oracle (q_ivf_ann derives the fit, the probe ranking,
    * and the recall entirely in SQL — nothing pinned from the engine).
    * Returns top-k per query vector for queries drawn from the same
    * table.
    *
    * Scale shape: centroids are tiny (nlist × dim, broadcast); the
    * candidate join matches each vector only against its probed cells —
    * cost n·(n/nlist)·nprobe instead of n².
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      iters: Int = 10
  ): DataFrame = {
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    // raw-vector fit (no L2 pre-normalization), matching the raw-vector
    // L2² cell assignment below — one consistent quantizer geometry
    val cents = pqCodebooks(df, vecCol, dim, m = 1, codebookSize = nlist,
      seed = seed, iters = iters, normalizeInput = false).head
    val centroids = cents.zipWithIndex
    // cell assignment for corpus vectors: fused codegen argmin over the
    // inlined centroids — the full-corpus scan stays inside whole-stage
    // codegen, no per-row object conversion
    val assigned = v.withColumn("cell",
      graft.plans.Expressions.nearest_centroid(col("v"), centroids.map(_._1).toSeq))
      .select(col(idCol), col("v"), col("cell"))
    // each query probes its nprobe nearest centroids — ranked by the fused
    // NearestCentroids kernel (bit-identical cosine ordering), so the
    // query side keeps its partitioning: no centroid crossJoin row
    // amplification and no Window shuffle just to pick top-nprobe cells
    val probes = assigned.select(col(idCol).as("qid"), col("v").as("qv"))
      .select(col("qid"), col("qv"),
        explode(graft.plans.Expressions.nearest_centroids(
          col("qv"), centroids.map(_._1).toSeq, nprobe)).as("cell"))
    // candidates: query × vectors in probed cells only. Each (query,
    // candidate) pair arises at most once — a corpus vector sits in
    // exactly one cell and NearestCentroids returns nprobe DISTINCT
    // cells — so no distinct() is needed (one was here until round 13:
    // a gratuitous full shuffle of the IVF path's largest intermediate;
    // uniqueness is now pinned in SimilaritySpec instead).
    val sims = probes.join(assigned, Seq("cell"))
      .where(col("qid") =!= col(idCol))
      .select(col("qid").as("id1"), col(idCol).as("id2"),
        Dedup.cosine(col("qv"), col("v")).as("cosine"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The seeded hyperplane family behind [[hyperplaneSignature]] — public so
    * an external checker (the driver's DuckDB oracle) can reproduce the
    * exact same planes and replay the full LSH pipeline independently.
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane signatures: bit i = sign(v · h_i) with hyperplanes
    * drawn from a fixed seed. Cosine-similar vectors agree on most bits.
    */
  def hyperplaneSignature(
      vecCol: Column,
      dim: Int,
      bits: Int,
      seed: Long = 42L
  ): Column =
    // native fused kernel: all `bits` sign tests in one loop per row — the
    // per-bit zip_with/aggregate chain was bits × dim interpreted boxed
    // ops on every corpus vector (same class as the L2Normalize fix)
    graft.plans.Expressions.hyperplane_signature(
      vecCol, hyperplanes(dim, bits, seed))

  /** Embedding near-dup PAIRS above a cosine threshold via hyperplane-LSH
    * bucketing — the scale path for [[graft.dedup.Dedup.embeddingDupPairs]]
    * (whose all-pairs form is the O(n²) oracle baseline). Vectors only meet
    * inside a (band, key) bucket; exact cosine is then computed on those
    * candidates and thresholded, so precision is exact and recall is the
    * band-collision probability (1 − (1 − p^bitsPerBand)^bands with
    * p = 1 − θ/π for angle θ) — raise `bands` / lower `bitsPerBand` to push
    * recall toward 1 at the cost of candidate volume.
    */
  def lshCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 16,
      bands: Int = 8,
      seed: Long = 42L
  ): DataFrame = {
    require(bands >= 1 && bits % bands == 0 && bits / bands >= 1,
      s"bits=$bits must be a positive multiple of bands=$bands: " +
        "bitsPerBand = 0 keys EVERY vector into one bucket per band (the " +
        "silent all-pairs blowup), and a remainder silently ignores the " +
        "top signature bits (recall below the configured operating point)")
    val bitsPerBand = bits / bands
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("sig", hyperplaneSignature(col("v"), dim, bits, seed))
    val banded = v.select(col(idCol), col("v"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("v"), col("bk.band"), col("bk.key"))
    val l = banded.select(col(idCol).as("id1"), col("v").as("v1"), col("band"), col("key"))
    val r = banded.select(col(idCol).as("id2"), col("v").as("v2"), col("band"), col("key"))
    l.join(r, Seq("band", "key")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), Dedup.cosine(col("v1"), col("v2")).as("cosine"))
      .distinct()
      .where(col("cosine") >= threshold)
  }

  /** [[lshCosinePairs]] at a corpus-size-aware operating point. Expected
    * bucket occupancy is n / 2^bitsPerBand, and per-band candidate volume
    * is Σ occupancy²/2 ≈ n²/2^(bitsPerBand+1) — so a FIXED key width that
    * is fine at 2k vectors is quadratic at 100k (measured: 306 s for the
    * 2-bit default at 100k vectors vs ~15 s here; SCALE.md). This variant
    * counts the corpus once and picks bitsPerBand = ceil(log2(n /
    * targetBucketSize)), clamped so the banded signature still fits one
    * long (bands × bitsPerBand ≤ 63). The recall consequence is the
    * standard LSH dial, now stated instead of implicit: P(band match) =
    * (1 − θ/π)^bitsPerBand, recall = 1 − (1 − p^bitsPerBand)^bands —
    * near-dup pairs (cosine ≥ 0.9, θ ≤ 26°) keep recall ≥ ~0.9 at the
    * 6-band/9-bit point; borderline-similarity mining at scale should
    * raise `bands` (more signatures) rather than widen buckets.
    */
  def lshCosinePairsAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bands: Int = 6,
      targetBucketSize: Int = 1024,
      seed: Long = 42L
  ): DataFrame = {
    require(bands >= 1 && bands <= 31, s"bands out of range: $bands")
    val n = math.max(df.count(), 1L)
    val maxBpb = 63 / bands
    val bpb = math.max(2, math.min(maxBpb,
      math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2)).toInt))
    lshCosinePairs(df, idCol, vecCol, threshold, dim,
      bits = bands * bpb, bands = bands, seed = seed)
  }

  /** Deterministic spherical k-means centroids over the L2-normalized
    * embeddings — the cluster map behind [[semanticDupPairs]] /
    * [[semanticDedup]] (SemDeDup). Reuses the distributed bit-exact
    * Lloyd's fit ([[pqCodebooks]] with a single full-dim subspace:
    * hash-sorted init, sorted-pid partial merge), so two fits over the
    * same data produce IDENTICAL doubles — which is what lets a driver
    * oracle inline the centroids as literals and replay everything
    * downstream of the fit independently.
    */
  def semanticCentroids(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      nlist: Int,
      seed: Long = 42L,
      iters: Int = 10
  ): Seq[Seq[Double]] =
    pqCodebooks(df, vecCol, dim, m = 1, codebookSize = nlist, seed = seed,
      iters = iters).head

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with spherical k-means, then
    * compare embeddings ONLY within a cluster — exact cosine over the
    * normalized vectors, thresholded. The candidate set is Σ|cell|²/2
    * instead of n²/2: with nlist sized so cells hold ~10³-10⁴ docs
    * (nlist ∝ n at 100 TB), the pair stage is linear-ish in n and the
    * corpus shuffles ONCE on the cell key (self-join reuses the
    * exchange). The designed tradeoff, as in the paper: near-dups that
    * straddle a cluster boundary are not candidates — raise nlist
    * recall-side via [[lshCosinePairs]] when cross-cluster recall
    * matters more than the cluster prior.
    *
    * Pass pre-fit `centroids` (from [[semanticCentroids]]) to skip the
    * fit — the fit-once/compare-many path; they must be fit over the
    * same normalization (L2) this operator applies to the corpus side.
    */
  def semanticDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      threshold: Double,
      seed: Long = 42L,
      iters: Int = 10,
      centroids: Option[Seq[Seq[Double]]] = None
  ): DataFrame = {
    val cents = centroids.getOrElse(semanticCentroids(df, vecCol, dim, nlist, seed, iters))
    val assigned = df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u"))
      .withColumn("cell",
        graft.plans.Expressions.nearest_centroid(col("u"), cents))
    val l = assigned.select(col("cell"), col(idCol).as("id1"), col("u").as("u1"))
    val r = assigned.select(col("cell"), col(idCol).as("id2"), col("u").as("u2"))
    l.join(r, Seq("cell")).where(col("id1") < col("id2"))
      .select(col("cell"), col("id1"), col("id2"),
        graft.plans.Expressions.cosine_similarity(col("u1"), col("u2")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** End-to-end SemDeDup: every row with its cluster and a keep flag —
    * one representative (the lowest id, via connected components over
    * [[semanticDupPairs]]) survives per duplicate group; docs in no
    * pair keep trivially. Components run over the PAIR table (candidate-
    * sized, never corpus-sized); the corpus-side cost is the one
    * cell-key shuffle of the pair stage plus a left join against the
    * (small) loser set.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      threshold: Double,
      seed: Long = 42L,
      iters: Int = 10,
      centroids: Option[Seq[Seq[Double]]] = None
  ): DataFrame = {
    val cents = centroids.getOrElse(semanticCentroids(df, vecCol, dim, nlist, seed, iters))
    val pairs = semanticDupPairs(df, idCol, vecCol, dim, nlist, threshold,
      seed, iters, Some(cents))
    val losers = Dedup.connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol), lit(false).as("keep"))
    df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u"))
      .withColumn("cell",
        graft.plans.Expressions.nearest_centroid(col("u"), cents))
      .join(losers, Seq(idCol), "left")
      .select(col(idCol), col("cell"), coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** [[semanticDedup]] at a corpus-size-aware cell count — the "nlist ∝
    * n" sizing the SemDeDup design calls for, made explicit: one corpus
    * count picks nlist = clamp(n / targetCellSize, 4, 65536), so the
    * in-cell pair volume Σ|cell|²/2 ≈ n · targetCellSize / 2 stays
    * LINEAR in corpus size instead of quadratic under a fixed nlist.
    * targetCellSize is the paper's ~10³-10⁴-docs-per-cluster regime; the
    * k-means fit cost grows with nlist but stays one treeAggregate per
    * iteration regardless ([[semanticCentroids]]).
    */
  def semanticDedupAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      targetCellSize: Int = 4096,
      seed: Long = 42L,
      iters: Int = 10
  ): DataFrame = {
    val n = math.max(df.count(), 1L)
    val nlist = math.max(4L, math.min(65536L, n / targetCellSize + 1L)).toInt
    semanticDedup(df, idCol, vecCol, dim, nlist, threshold, seed, iters)
  }

  /** Exact cosine top-k for an explicit query batch: queries broadcast,
    * ONE corpus scan for the whole batch, no corpus shuffle — the exact
    * baseline every ANN variant here is measured against, and the right
    * brute-force shape at scale (cost = |corpus| · |batch| · dim, but IO
    * = one pass).
    */
  def knnForQueries(
      df: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = df.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    val sims = c.crossJoin(broadcast(q)).where(col("qid") =!= col("cid"))
      .select(col("qid").as("id1"), col("cid").as("id2"),
        Dedup.cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Per-subspace k-means codebooks for product quantization: the
    * embedding is split into `m` contiguous subvectors and each subspace
    * gets its own `codebookSize`-centroid quantizer. Returned as plain
    * Scala arrays — small enough (m·k·dim/m doubles) to inline as
    * literals into every executor's codegen, no broadcast needed.
    *
    * The fit is a DISTRIBUTED Lloyd's: every iteration assigns the whole
    * corpus (or a seeded `sampleFraction` of it) and reduces per-subspace
    * (sum, count) state through ONE `treeAggregate` — all m subspaces fit
    * in the same pass, so the job count is `iters`, not `iters × m`, and
    * the aggregated state is tiny (m·k·(dim/m+1) values) no matter the
    * corpus size. Nothing is collected but the k seed vectors and the
    * final centroids, so codebook QUALITY has no corpus-size-bound cap
    * (the previous fit trained on the first 10k driver-collected rows).
    *
    * Determinism: init takes the k vectors with the smallest seeded
    * xxhash64 — a total order on rows, no partition-order sensitivity —
    * and the iteration count is fixed; empty clusters keep their previous
    * centroid. (As with any distributed double summation, the last-ulp
    * bits depend on the input partitioning; for a fixed layout the fit is
    * exactly reproducible.) Vectors are L2-normalized before fitting so
    * inner product ≡ cosine downstream.
    */
  def pqCodebooks(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int,
      codebookSize: Int,
      seed: Long = 42L,
      iters: Int = 10,
      sampleFraction: Option[Double] = None,
      normalizeInput: Boolean = true
  ): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    // residual codebooks (normalizeInput=false) must fit the residuals
    // as-is: rescaling them would break score ≈ ⟨q,cent⟩ + ⟨q,r̂⟩
    val vecs = df.select(
      (if (normalizeInput) l2normalize(asDouble(col(vecCol)))
       else asDouble(col(vecCol))).as("u"))
    kmeansSubspaces(vecs, dim, m, codebookSize, iters, seed, sampleFraction)
      .map(_.map(_.toSeq).toSeq).toSeq
  }

  /** Distributed Lloyd's over all `m` subspaces at once (see
    * [[pqCodebooks]]). `vecs` must be a single `array<double>` column "u".
    */
  private def kmeansSubspaces(
      vecs: DataFrame, dim: Int, m: Int, k: Int, iters: Int, seed: Long,
      sampleFraction: Option[Double]): Array[Array[Array[Double]]] = {
    val sub = dim / m
    val spark = vecs.sparkSession
    // sorted init: the k rows with the smallest seeded hash — a
    // deterministic global choice (TakeOrderedAndProject, no full sort)
    val seedRows: Array[Array[Double]] = vecs
      .orderBy(xxhash64(col("u"), lit(seed)), col("u"))
      .limit(k).collect().map(_.getSeq[Double](0).toArray)
    require(seedRows.nonEmpty, "pqCodebooks: empty input")
    val cents: Array[Array[Array[Double]]] = Array.tabulate(m, k) { (j, c) =>
      java.util.Arrays.copyOfRange(
        seedRows(c % seedRows.length), j * sub, (j + 1) * sub)
    }
    val base = vecs.rdd.map(_.getSeq[Double](0).toArray)
    val pts = sampleFraction
      .map(f => base.sample(withReplacement = false, f, seed)).getOrElse(base)

    type Partial = (Array[Array[Array[Double]]], Array[Array[Long]])
    def combine(x: Partial, y: Partial): Partial = {
      val (s1, n1) = x; val (s2, n2) = y
      var j = 0
      while (j < m) {
        var c = 0
        while (c < k) {
          val a = s1(j)(c); val b = s2(j)(c)
          var t = 0
          while (t < sub) { a(t) += b(t); t += 1 }
          n1(j)(c) += n2(j)(c)
          c += 1
        }
        j += 1
      }
      (s1, n1)
    }

    // the per-partition seqOp, shared VERBATIM by the distributed and the
    // driver-local paths below so both produce bit-identical partials
    def partialFor(iter: Iterator[Array[Double]],
                   cs: Array[Array[Array[Double]]]): Partial = {
      val s = Array.fill(m, k)(new Array[Double](sub))
      val n = Array.fill(m, k)(0L)
      iter.foreach { u =>
        var j = 0
        while (j < m) {
          val off = j * sub
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < k) {
            val cent = cs(j)(c)
            var d = 0.0; var t = 0
            while (t < sub) { val x = u(off + t) - cent(t); d += x * x; t += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          val tgt = s(j)(best); var t = 0
          while (t < sub) { tgt(t) += u(off + t); t += 1 }
          n(j)(best) += 1L
          j += 1
        }
      }
      (s, n)
    }
    // merge partials DETERMINISTICALLY: sorted-pid order within fixed
    // 64-wide groups, then group order — same tree both paths
    def mergePartials(parts: Array[(Int, Partial)]): Partial =
      parts.map { case (pid, p) => (pid / 64, (pid, p)) }
        .groupBy(_._1).toArray
        .map { case (g, members) =>
          (g, members.map(_._2).sortBy(_._1).map(_._2).reduce(combine)) }
        .sortBy(_._1).map(_._2)
        .reduce(combine)
    def updateCents(sums: Array[Array[Array[Double]]],
                    counts: Array[Array[Long]]): Unit = {
      var j = 0
      while (j < m) {
        var c = 0
        while (c < k) {
          if (counts(j)(c) > 0L) {
            var t = 0
            while (t < sub) { cents(j)(c)(t) = sums(j)(c)(t) / counts(j)(c); t += 1 }
          } // empty cluster keeps its previous centroid
          c += 1
        }
        j += 1
      }
    }

    // DRIVER-LOCAL SMALL-FIT PATH (r18 opt, guide §1.2 "per-task work"):
    // each Lloyd's iteration is one Spark job (broadcast + map + shuffle
    // + collect) whose fixed latency (~40 ms local) dwarfs the arithmetic
    // for small inputs — a 50-vector fit paid ~10 jobs ≈ 0.4 s of pure
    // scheduling. When the (sampled) input's ESTIMATED bytes fit a small
    // bound, collect the vectors ONCE — preserving (partition id, row
    // order) — and run the identical seqOp/merge arithmetic on the
    // driver: bit-identical centroids (same doubles combined in the same
    // order), 2 jobs total instead of iters+1. The estimate is from plan
    // statistics (file size), so a 100 TB corpus keeps the distributed
    // path; the bound is conf-overridable. This is the same bounded-
    // driver-aggregate class as the BPE fit loop — the collected state is
    // capped by the bound, never corpus-proportional.
    val localFitMaxBytes =
      spark.conf.getOption("spark.graft.kmeans.localFitMaxBytes")
        .map(_.toLong).getOrElse(32L << 20)
    val estBytes = vecs.queryExecution.optimizedPlan.stats.sizeInBytes
    // r19 (VERDICT/ADVICE): the stats estimate is a file-size heuristic
    // that can UNDERESTIMATE decoded Array[Array[Double]] rows (derived
    // frames, compressed parquet), so the bound is also enforced on the
    // collected rows themselves. maxRows is the bound in decoded rows
    // (dim doubles + array header); each task ships at most maxRows + 1
    // rows (so an overflowing input is detected without shipping it all —
    // residual worst case is partitions × bound, vs unbounded before),
    // and if the TOTAL exceeds maxRows the collected sample is discarded
    // and the fit falls through to the distributed loop, whose centroids
    // are bit-identical by the shared seqOp/merge tree.
    val maxRows = math.max(1L, localFitMaxBytes / (dim * 8L + 16L))
    val localParts: Option[Array[(Int, Array[Array[Double]])]] =
      if (estBytes > localFitMaxBytes) None
      else {
        val capped: Array[(Int, Array[Array[Double]], Long)] =
          pts.mapPartitionsWithIndex { (pid, iter) =>
            val buf = scala.collection.mutable.ArrayBuffer[Array[Double]]()
            var n = 0L
            iter.foreach { u => n += 1; if (n <= maxRows + 1) buf += u }
            Iterator((pid, buf.toArray, n))
          }.collect()
        if (capped.map(_._3).sum <= maxRows)
          // no partition truncated (each holds ≤ the accepted total), so
          // the rows are complete and in the exact (pid, row) order the
          // unbounded collect produced
          Some(capped.map(c => (c._1, c._2)).sortBy(_._1))
        else None
      }
    if (localParts.isDefined) {
      val parts = localParts.get
      var it = 0
      while (it < iters) {
        val cs = cents.map(_.map(_.clone()))
        val (sums, counts) = mergePartials(
          parts.map { case (pid, rows) => (pid, partialFor(rows.iterator, cs)) })
        updateCents(sums, counts)
        it += 1
      }
      cents
    } else {
      pts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var it = 0
        while (it < iters) {
          val bc = spark.sparkContext.broadcast(cents.map(_.map(_.clone())))
          // One pass: per-partition (sum, count) partials, then the same
          // deterministic merge as the local path (treeAggregate's final
          // reduce merges in task-COMPLETION order, which re-orders double
          // addition between runs and costs last-ulp reproducibility —
          // exactly what pinned-recall oracles can't tolerate). The driver
          // receives ceil(P/64) partials of m·k·(dim/m+1) values each.
          val (sums, counts) = pts.mapPartitionsWithIndex { (pid, iter) =>
            val cs = bc.value
            Iterator((pid, partialFor(iter, cs)))
          }
            .map { case (pid, p) => (pid / 64, (pid, p)) }
            .groupByKey()
            .map { case (g, members) =>
              (g, members.toArray.sortBy(_._1).map(_._2).reduce(combine)) }
            .collect().sortBy(_._1).map(_._2)
            .reduce(combine)
          updateCents(sums, counts)
          bc.destroy()
          it += 1
        }
        cents
      } finally pts.unpersist(blocking = false)
    }
  }

  // native fused kernel (graft.plans.Expressions.L2Normalize): the
  // composed transform/aggregate form re-evaluated the norm subtree per
  // element — O(dim²) interpreted ops per row, ~0.5 ms/row at dim 64
  private def l2normalize(vec: Column): Column =
    graft.plans.Expressions.l2_normalize(vec)

  /** PQ encoding: `codes[j] = argmin_c ‖u_j − codebook[j][c]‖²` — the
    * embedding compressed to m small ints (4–8 bits each), a 32–64×
    * reduction of what a similarity scan has to read. A fused native
    * codegen expression ([[graft.plans.Expressions.PqEncode]]): one
    * normalize + argmin loop per row, no intermediate arrays — the
    * composed higher-order-function form is interpreted and ~100× slower.
    */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.plans.Expressions.pq_encode(vec, codebooks)

  /** Product-quantization ANN (asymmetric distance computation): the
    * corpus is stored as PQ codes; each query builds one lookup table per
    * subspace (`lut[j][c] = ⟨q_j, codebook[j][c]⟩`) and a candidate's
    * approximate cosine is `Σ_j lut[j][codes[j]]` — m array lookups per
    * pair instead of a dim-wide dot product.
    *
    * PQ is the COMPRESSION layer of ANN, not the pruning layer: every
    * code is still scanned per query, but the scan reads m bytes/vector
    * instead of 4·dim and the score is m adds. Compose with [[ivfTopK]]
    * (probe cells first, ADC inside probed cells) for the classic IVF-PQ
    * at corpus scale. The query side is broadcast — the big side (codes)
    * never shuffles.
    */
  def pqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      m: Int = 8,
      codebookSize: Int = 16,
      seed: Long = 42L,
      queries: Option[DataFrame] = None,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val books = codebooks.getOrElse(pqCodebooks(df, vecCol, dim, m, codebookSize, seed))
    require(books.size == m && books.head.head.size == dim / m,
      s"codebooks shape ${books.size}×${books.head.size}×${books.head.head.size} " +
        s"does not match m=$m, dim/m=${dim / m}")
    val sub = dim / m
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val encoded = v.select(col(idCol).as("cid"),
      pqEncode(col("v"), books).as("codes"))
    // fused native kernel (graft.plans.Expressions.PqLuts): the composed
    // m × k aggregate(zip_with(slice…)) tree was ~2,000 expression nodes
    // re-analyzed per call — driver planning cost, not just eval cost
    val luts = graft.plans.Expressions.pq_luts(col("u"), books)
    val qside = queries.getOrElse(df)
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol).as("qid"), l2normalize(col("v")).as("u"))
      .select(col("qid"), luts.as("luts"))
    val scored = encoded.crossJoin(broadcast(qside))
      .where(col("qid") =!= col("cid"))
      .withColumn("score",
        graft.plans.Expressions.pq_adc(col("luts"), col("codes")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid").as("id1"), col("cid").as("id2"),
        col("score"), col("rank"))
  }

  /** IVF-PQ: the classic composition — the coarse quantizer prunes the
    * candidate set to `nprobe` cells ([[ivfTopK]]'s shape) and PQ codes
    * score the survivors by ADC lookups ([[pqTopK]]'s shape). Per query:
    * `(n/nlist)·nprobe` candidates × m byte lookups — both the IO and
    * the compute dial at once, which is what a billion-vector corpus
    * needs. Codes quantize raw vectors by default — simpler, and the
    * recall dial is `nprobe` and `m` as usual; pass `residual = true`
    * for FAISS-style residual codes ([[fitIvfPq]]) when the extra
    * per-cell precision is worth a second pass over the corpus at build
    * time (assign, then encode the residual).
    *
    * Caller-supplied `codebooks` must match the path they are used on:
    * with `residual = true` they must have been fitted on RESIDUALS
    * (`u − centroid(cell)`, e.g. by a prior residual run's
    * [[pqCodebooks]] over the residual column). Raw-path books have the
    * same m×k×sub shape, so passing them cannot be detected here — they
    * would encode residuals against raw-space centroids and silently
    * degrade recall.
    */
  def ivfPqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      codebookSize: Int = 16,
      seed: Long = 42L,
      queries: Option[DataFrame] = None,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None,
      coarseSampleFraction: Option[Double] = None,
      residual: Boolean = false
  ): DataFrame = {
    val (cents, books) = fitIvfPq(df, idCol, vecCol, dim, nlist, m,
      codebookSize, seed, residual, coarseSampleFraction, codebooks)
    scoreAssignedCells(encodeWith(df, idCol, vecCol, cents, books, residual),
      cents, books, residual, queries.getOrElse(df), idCol, vecCol, k,
      nprobe, m, dim / m)
  }

  /** The IVF-PQ model fit shared by the direct path ([[ivfPqTopK]]) and
    * the persisted index ([[writeIvfPqIndex]]): the coarse quantizer is
    * trained distributed over the full corpus (matching [[ivfTopK]]) or a
    * seeded fraction of it — the engine's own deterministic Lloyd's fit
    * (one aggregation pass per iteration, no row ever collected beyond
    * the nlist seeds), so the entire IVF-PQ pipeline is replayable by the
    * SQL oracle — and the PQ codebooks (unless the caller supplies them)
    * on the raw vectors or, with `residual`, on the residuals.
    *
    * FAISS-style RESIDUAL IVF-PQ: codes quantize `r = u − centroid(cell)`
    * instead of the raw vector, so the codebooks only have to cover the
    * within-cell spread — the classic precision win over raw-vector
    * codes. Scoring uses `⟨q,u⟩ ≈ ⟨q,cent⟩ + ⟨q,r̂⟩`: the first term is
    * one dot per probed (query, cell) — computed in the probe join, which
    * already pairs them — and the second is the SAME per-query subspace
    * LUTs as the raw path (`lut[j][c] = ⟨q_j, book_j[c]⟩` is
    * centroid-independent because r̂ decomposes per subspace), so the
    * per-candidate cost is still m lookups + m adds, plus one add for the
    * centroid term. Everything runs on L2-normalized vectors end-to-end;
    * residuals are NOT re-normalized (that would break the decomposition).
    */
  private def fitIvfPq(
      df: DataFrame, idCol: String, vecCol: String, dim: Int, nlist: Int,
      m: Int, codebookSize: Int, seed: Long, residual: Boolean,
      coarseSampleFraction: Option[Double],
      codebooks: Option[Seq[Seq[Seq[Double]]]]
  ): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    def coarse(in: DataFrame, c: String): Seq[Seq[Double]] = pqCodebooks(
      coarseSampleFraction
        .map(f => in.sample(withReplacement = false, f, seed)).getOrElse(in),
      c, dim, m = 1, codebookSize = nlist, seed = seed,
      normalizeInput = false).head
    val (cents, books) =
      if (!residual) {
        val books = codebooks.getOrElse(
          pqCodebooks(df, vecCol, dim, m, codebookSize, seed))
        (coarse(df.select(col(idCol), asDouble(col(vecCol)).as("v")), "v"), books)
      } else {
        val cents = coarse(
          df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u0")), "u0")
        (cents, codebooks.getOrElse(pqCodebooks(residuals(df, idCol, vecCol, cents),
          "res", dim, m, codebookSize, seed, normalizeInput = false)))
      }
    require(books.size == m && books.head.head.size == dim / m,
      s"codebooks shape ${books.size}×${books.head.size}×${books.head.head.size} " +
        s"does not match m=$m, dim/m=${dim / m}")
    (cents, books)
  }

  /** `df` L2-normalized (`u0`), assigned to its nearest centroid (`cell`)
    * and reduced to the residual `res = u0 − centroid(cell)`.
    */
  private def residuals(df: DataFrame, idCol: String, vecCol: String,
                        cents: Seq[Seq[Double]]): DataFrame =
    df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u0"))
      .withColumn("cell",
        graft.plans.Expressions.nearest_centroid(col("u0"), cents))
      .withColumn("res", zip_with(col("u0"),
        element_at(typedLit(cents), col("cell") + 1), (a, b) => a - b))

  /** The SERVE half of IVF-PQ, shared by the direct paths and the
    * persisted-index path ([[ivfPqServe]]): given the corpus reduced to
    * `(cid, codes, cell)` and the small driver-side model (centroids +
    * codebooks), rank each query's candidates. Per query: fused
    * top-nprobe cell ranking (no centroid crossJoin, no Window), LUTs
    * built once per query row before the cell explode, candidates from
    * the cell equi-join, ADC scoring (+ the ⟨q, centroid⟩ term on the
    * residual path — a RAW dot against the probed cell's mean, cosine
    * would rescale it), top-k window.
    */
  private def scoreAssignedCells(
      assigned: DataFrame,
      cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      residual: Boolean,
      queryDf: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      m: Int,
      sub: Int
  ): DataFrame = {
    // fused native LUT kernel — see pqTopK; bit-identical left-to-right
    // per-subspace sums, so the stored-index serve path and its derived
    // oracle replays are unchanged
    val luts = graft.plans.Expressions.pq_luts(col("u"), books)
    val probesBase = queryDf
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol).as("qid"), l2normalize(col("v")).as("u"))
    val probes =
      if (!residual)
        probesBase.select(col("qid"), luts.as("luts"),
          explode(graft.plans.Expressions.nearest_centroids(
            col("u"), cents, nprobe)).as("cell"))
      else {
        val centsLit = typedLit(cents)
        probesBase.select(col("qid"), col("u"), luts.as("luts"),
          explode(graft.plans.Expressions.nearest_centroids(
            col("u"), cents, nprobe)).as("cell"))
          .withColumn("qc",
            aggregate(zip_with(col("u"), element_at(centsLit, col("cell") + 1),
              (x, y) => x * y), lit(0.0), _ + _))
          .select(col("qid"), col("luts"), col("qc"), col("cell"))
      }
    // each corpus vector lives in exactly one cell — no pair duplication
    val scored = probes.join(assigned, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("score",
        if (residual)
          col("qc") + graft.plans.Expressions.pq_adc(col("luts"), col("codes"))
        else graft.plans.Expressions.pq_adc(col("luts"), col("codes")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid").as("id1"), col("cid").as("id2"),
        col("score"), col("rank"))
  }

  // ---- Persisted ANN indexes: fit once, serve many. At 100 TB the
  // expensive steps are the model fit and the full-corpus encode; an
  // index that stores their output — a small driver-side model plus a
  // (cell, id, codes) table — lets every later query batch skip straight
  // to the candidate join. The codes table is PARTITIONED BY cell, so a
  // serve that probes nprobe cells reads only those directories (dynamic
  // partition pruning through the broadcast probe join); the corpus
  // vectors themselves are never stored or read again.
  //
  // Two stores share ONE lifecycle (append, delete, compact, stream
  // append, fold, refit, open — below the entry points): IVF-PQ and the
  // int8 SQ×IVF tier. An [[AnnCodec]] supplies only what differs between
  // them; the fits stay separate because the model fits really differ,
  // and both end in the shared [[publish]].

  /** An opened on-disk IVF-PQ index: the small model (centroids m×dim +
    * codebooks m×k×sub, a few KB — driver-held by design, like the
    * literal centroids the direct path inlines) and the lazy codes table.
    */
  case class IvfPqIndex(
      cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      dim: Int,
      m: Int,
      residual: Boolean,
      codes: DataFrame)

  /** An opened on-disk SQ×IVF index: the coarse centroids (nlist × dim
    * doubles, driver-held like the literals the direct path inlines) and
    * the lazy cell-partitioned `(id, c8)` codes table. SQ needs no
    * codebooks: its scale is the fixed constant 1/127.
    */
  case class SqIvfIndex(cents: Seq[Seq[Double]], dim: Int, codes: DataFrame)

  /** What differs between the persisted ANN stores; the lifecycle that
    * keeps a store alive is shared and parameterised by this. `I` is the
    * opened index.
    *
    * @param prefix      failpoint label prefix of the store's writes
    * @param idCol       id column of its codes and tombstones tables
    * @param modelTables tables a fold copies verbatim into the new
    *                    generation (the model and any fit-time snapshot)
    */
  private sealed abstract class AnnCodec[I](val prefix: String,
      val idCol: String, val modelTables: Seq[String]) {
    /** Collect generation `dir`'s stored model to the driver; the result
      * pairs it with a live codes view into an opened index. Every read
      * happens here, once per cached generation: the returned function
      * runs on each open and must touch no storage.
      */
    def loadModel(spark: SparkSession, dir: String): DataFrame => I
    /** Encode `df` with an opened index's stored model (no refit). */
    def encode(index: I, df: DataFrame, idCol: String, vecCol: String): DataFrame
    /** The staleness number a refit compares with its threshold. */
    def staleness(spark: SparkSession, path: String): Double

    protected def centroids(spark: SparkSession, dir: String): Seq[Seq[Double]] =
      spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
        .map(r => r.getSeq[Double](r.fieldIndex("vec"))).toSeq
  }

  private object PqCodec extends AnnCodec[IvfPqIndex]("ivfpq", "cid",
      Seq("meta", "centroids", "codebooks", "cellstats")) {
    def loadModel(spark: SparkSession, dir: String): DataFrame => IvfPqIndex = {
      val meta = spark.read.parquet(s"$dir/meta").head()
      val m = meta.getAs[Int]("m")
      val cents = centroids(spark, dir)
      val booksFlat = spark.read.parquet(s"$dir/codebooks")
        .orderBy("j", "c").collect()
        .map(r => (r.getAs[Int]("j"), r.getSeq[Double](r.fieldIndex("vec"))))
      val books = (0 until m).map(j =>
        booksFlat.filter(_._1 == j).map(_._2).toSeq).toSeq
      val (dim, residual) = (meta.getAs[Int]("dim"), meta.getAs[Boolean]("residual"))
      codes => IvfPqIndex(cents, books, dim, m, residual, codes)
    }
    def encode(index: IvfPqIndex, df: DataFrame, idCol: String,
               vecCol: String): DataFrame =
      encodeForIndex(index, df, idCol, vecCol)
    def staleness(spark: SparkSession, path: String): Double =
      ivfPqCellDrift(spark, path).agg(max(abs(col("growth")))).head().getDouble(0)
  }

  private object SqCodec extends AnnCodec[SqIvfIndex]("sqivf", "id",
      Seq("meta", "centroids")) {
    def loadModel(spark: SparkSession, dir: String): DataFrame => SqIvfIndex = {
      val dim = spark.read.parquet(s"$dir/meta").head().getAs[Int]("dim")
      val cents = centroids(spark, dir)
      codes => SqIvfIndex(cents, dim, codes)
    }
    def encode(index: SqIvfIndex, df: DataFrame, idCol: String,
               vecCol: String): DataFrame =
      sqIvfEncode(df, idCol, vecCol, index.cents)
    def staleness(spark: SparkSession, path: String): Double =
      sqIvfStreamGrowth(spark, path)
  }

  /** Fit an IVF-PQ index on `df` and persist it under `path`, as one
    * crash-atomically committed generation ([[graft.util.AtomicStore]]):
    * `meta` (one row of params), `centroids` (nlist rows), `codebooks`
    * (m·k rows), and `codes` — one `(cid, codes)` row per corpus vector,
    * partitioned by `cell`. The fit is exactly [[ivfPqTopK]]'s (same
    * seeded deterministic coarse Lloyd's on the same input column, same
    * [[pqCodebooks]] distributed fit, same fused assignment
    * expressions), so serving from the store reproduces the direct path
    * bit-for-bit.
    */
  def writeIvfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int,
      nlist: Int = 16,
      m: Int = 8,
      codebookSize: Int = 16,
      seed: Long = 42L,
      residual: Boolean = false,
      coarseSampleFraction: Option[Double] = None,
      streamHighwater: Option[Long] = None
  ): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val (cents, books) = fitIvfPq(df, idCol, vecCol, dim, nlist, m,
      codebookSize, seed, residual, coarseSampleFraction, codebooks = None)
    // the SAME encode expressions the serve-time grow path uses
    // ([[encodeWith]] — single-sourced, so fit and append can never
    // drift apart and break the pinned fit/append bit-equivalence)
    val assigned = encodeWith(df, idCol, vecCol, cents, books, residual)
    // crash-atomic publish (graft.util.AtomicStore): every table lands in
    // a fresh generation directory; the store only advances when the
    // single marker-file commit lands AFTER the last table. A crash (or a
    // concurrent reader) at any point between sub-table writes sees the
    // previous committed generation, never new meta over old codes. A
    // fresh generation also starts with no tombstones — a (re)fit defines
    // the whole store, so earlier deletes cannot hide fresh vectors.
    val (gen, gdir) = AtomicStore.begin(spark, path)
    AtomicStore.failpoint("ivfpq:meta")
    Seq((dim, m, codebookSize, nlist, residual, seed))
      .toDF("dim", "m", "codebook_size", "nlist", "residual", "seed")
      .write.mode("overwrite").parquet(s"$gdir/meta")
    AtomicStore.failpoint("ivfpq:centroids")
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "vec")
      .write.mode("overwrite").parquet(s"$gdir/centroids")
    AtomicStore.failpoint("ivfpq:codebooks")
    books.zipWithIndex.flatMap { case (bj, j) =>
      bj.zipWithIndex.map { case (cv, c) => (j, c, cv) }
    }.toDF("j", "c", "vec")
      .write.mode("overwrite").parquet(s"$gdir/codebooks")
    publish(PqCodec, spark, path, gen, gdir, assigned, streamHighwater) {
      AtomicStore.failpoint("ivfpq:cellstats")
      // fit-time cell occupancy snapshot — the baseline the staleness
      // signal compares against ([[ivfPqCellDrift]]); derived from the
      // stored codes so it reflects exactly what the index holds
      spark.read.parquet(s"$gdir/codes").groupBy(col("cell"))
        .agg(count(lit(1)).as("n_fit"))
        .write.mode("overwrite").parquet(s"$gdir/cellstats")
    }
  }

  /** Encode vectors with an OPENED index's stored model — the exact
    * assignment expressions of the fit path ([[writeIvfPqIndex]]), no
    * refit: coarse cell from the stored centroids, PQ codes from the
    * stored codebooks (residual-aware). The scan-local encode step of
    * fit-once/grow-many.
    */
  def encodeForIndex(index: IvfPqIndex, df: DataFrame,
                     idCol: String, vecCol: String): DataFrame =
    encodeWith(df, idCol, vecCol, index.cents, index.books, index.residual)

  /** The ONE (cell, codes) construction the direct path ([[ivfPqTopK]]),
    * the fit ([[writeIvfPqIndex]]) and the grow path ([[encodeForIndex]])
    * use — single-sourced so they can never drift apart. Corpus side: one
    * cell id + m-byte code vector per row — the only thing the candidate
    * scan ever reads; assignment is the fused codegen argmin.
    */
  private def encodeWith(df: DataFrame, idCol: String, vecCol: String,
                         cents: Seq[Seq[Double]],
                         books: Seq[Seq[Seq[Double]]],
                         residual: Boolean): DataFrame =
    if (!residual) {
      df.select(col(idCol), asDouble(col(vecCol)).as("v"))
        .select(col(idCol).as("cid"),
          pqEncode(col("v"), books).as("codes"),
          graft.plans.Expressions.nearest_centroid(col("v"), cents).as("cell"))
    } else {
      residuals(df, idCol, vecCol, cents)
        .select(col(idCol).as("cid"),
          graft.plans.Expressions.pq_encode(col("res"), books,
            normalize = false).as("codes"),
          col("cell"))
    }

  /** Append new vectors to a persisted index: encode with the STORED
    * centroids/codebooks ([[encodeForIndex]] — no refit, so existing
    * codes stay valid) and write into the same cell-partitioned layout
    * (each new file lands inside its cell directory; serving's partition
    * pruning is unaffected). The fit-time `cellstats` snapshot is
    * deliberately NOT updated — the growing gap between it and the
    * live occupancy IS the refit signal ([[ivfPqCellDrift]]): appended
    * vectors are quantized against centroids fit on the old
    * distribution, so accumulating drift degrades recall even though
    * every individual append is exact.
    *
    * Caller owns id-uniqueness (an appended cid equal to a stored LIVE cid
    * produces two candidate rows, like any append-only store). Re-adding a
    * previously DELETED cid is handled: the store is compacted first, so
    * the tombstone is gone and only the new vector serves — delete→re-add
    * is an upsert, never stale emptiness or a dead-row resurrection.
    */
  def appendToIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit =
    append(PqCodec, df, idCol, vecCol, path, owner = "appendToIvfPqIndex")

  /** Delete vectors from a persisted index by id: appends the ids to a
    * `tombstones` table — no codes rewrite, so a delete is as cheap as a
    * small parquet append regardless of corpus size. [[openIvfPqIndex]]
    * anti-joins the codes against the tombstones, so serving and the
    * drift signal see only live vectors immediately; the dead rows stay
    * on disk until [[compactIvfPqIndex]] rewrites their cells.
    *
    * Tombstones apply to the WHOLE store at open time: re-appending a
    * previously deleted id resurrects nothing until the store is
    * compacted (the standard tombstone caveat — compact before re-add).
    *
    * SINGLE-WRITER contract, ENFORCED (deletes vs streaming replay): a
    * replayed micro-batch rewrites its own `codes_stream` partitions
    * from the RAW batch — under the live anti-join mask that is
    * invisible, but a delete + compaction racing the narrow window
    * between a batch's write and its checkpoint commit would drop the
    * mask an in-flight replay still needs. Every mutation here therefore
    * takes the store's MUTATION LEASE
    * ([[graft.util.AtomicStore.withMutationLease]]); the stream driver
    * holds it for each batch, so a concurrent delete REJECTS loudly
    * instead of corrupting — retry between batches.
    */
  def deleteFromIvfPqIndex(ids: DataFrame, idCol: String, path: String): Unit =
    delete(PqCodec, ids, idCol, path, owner = "deleteFromIvfPqIndex")

  /** Streaming-grade append: encode `df` with the stored model (like
    * [[appendToIvfPqIndex]]) into the `codes_stream` extension table,
    * partitioned by `(batch_id, cell)` with dynamic partition overwrite —
    * so an at-least-once REPLAY of the same micro-batch rewrites its own
    * partitions instead of doubling rows (the `q_stream_incremental`
    * idempotence pattern). A batch at or below the current generation's
    * stream highwater is skipped entirely: a drift-triggered refit
    * already folded it into the base fit (the watermark is written
    * atomically with that generation), so replay-after-refit cannot
    * duplicate either. Tombstone collisions compact first, like the
    * batch append. Returns whether the batch was DROPPED by a highwater
    * gap (see [[skippedStreamBatches]]).
    */
  def appendStreamBatch(df: DataFrame, idCol: String, vecCol: String,
                        path: String, batchId: Long): Boolean =
    appendStream(PqCodec, df, idCol, vecCol, path, batchId, "appendStreamBatch")

  /** Fold accumulated tombstones into the codes layout: rewrite ONLY the
    * cell partitions that actually contain a tombstoned id (dynamic
    * partition overwrite — untouched cells keep their original files),
    * then drop the tombstones table. Serving before and after compaction
    * is bit-identical by construction; compaction just reclaims the dead
    * rows and re-arms [[deleteFromIvfPqIndex]] for id reuse.
    *
    * The affected-cell list collects to the driver — bounded by nlist,
    * same size class as the centroid table.
    */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit =
    compact(PqCodec, spark, path, owner = "compactIvfPqIndex")

  /** Fold the stream extension into the base codes table, in a FRESH
    * generation — the small-file compaction a long-running
    * [[appendStreamBatch]] ingestion needs: the extension keeps one
    * `(batch_id, cell)` partition directory per micro-batch × cell (the
    * price of idempotent replay), so months of micro-batches leave
    * thousands of tiny files and the serve-time union goes
    * metadata-bound. No model work is redone: meta, centroids, codebooks
    * and the fit-time `cellstats` snapshot are copied verbatim (the
    * drift baseline must stay the FIT's occupancy), tombstones are
    * folded first ([[compactIn]]), the merged live rows are rewritten
    * cell-partitioned, and the new generation's stream highwater is
    * raised to the highest folded batch id — so an at-least-once replay
    * of any folded batch is absorbed exactly as after a refit. Published
    * with the same crash-atomic marker commit: a killed compaction
    * leaves readers on the old generation.
    *
    * Serving, drift, and replay semantics are bit-identical before and
    * after; only the file layout (and the absence of the union branch)
    * changes. Returns false when there is no extension to fold.
    */
  def compactIvfPqStreamExtension(spark: SparkSession, path: String): Boolean =
    fold(PqCodec, spark, path, owner = "compactIvfPqStreamExtension")

  /** Staleness signal: per-cell LIVE occupancy (appends minus tombstoned
    * deletes) vs the fit-time snapshot, plus the growth ratio. A cell
    * whose `growth` is large holds many vectors the coarse quantizer
    * never saw at fit time; a strongly negative `growth` means the cell
    * has drained — both directions distort the fit-time balance, so
    * refit when |growth| passes the deployment's tolerance. Full outer:
    * a cell that only gained vectors after fit shows `n_fit` 0.
    */
  def ivfPqCellDrift(spark: SparkSession, path: String): DataFrame = {
    val dir = AtomicStore.resolve(spark, path)
    val fit = spark.read.parquet(s"$dir/cellstats")
    val now = liveCodes(PqCodec, spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_now"))
    fit.join(now, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_fit"), lit(0L)).as("n_fit"),
        coalesce(col("n_now"), lit(0L)).as("n_now"))
      .withColumn("growth",
        (col("n_now") - col("n_fit")) / greatest(col("n_fit"), lit(1L)))
  }

  /** Drift-triggered refit — the last arc of the index lifecycle
    * (fit → serve → append → delete → compact → drift → REFIT). When the
    * staleness signal ([[ivfPqCellDrift]]) reports a cell whose |growth|
    * meets `threshold`, the coarse quantizer and codebooks are refit from
    * the CURRENT corpus `df` (the index is derived state; the embedding
    * table is the source of truth — the data-lake shape, not a
    * reconstruct-from-codes hack) and every cell is rewritten via
    * [[writeIvfPqIndex]] with the persisted meta params, so a refit index
    * is bit-identical to one fit fresh on today's corpus with the same
    * seed. Accumulated tombstones are dropped: the rewrite IS the
    * compaction. Returns whether a refit happened — below the threshold
    * the store is untouched (the cheap steady-state probe).
    */
  def refitIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, threshold: Double = 0.5,
                      streamHighwater: Option[Long] = None): Boolean =
    refit(PqCodec, df.sparkSession, path, threshold, "refitIvfPqIndex") { meta =>
      writeIvfPqIndex(df, idCol, vecCol, path,
        dim = meta.getAs[Int]("dim"),
        nlist = meta.getAs[Int]("nlist"),
        m = meta.getAs[Int]("m"),
        codebookSize = meta.getAs[Int]("codebook_size"),
        seed = meta.getAs[Long]("seed"),
        residual = meta.getAs[Boolean]("residual"),
        streamHighwater = streamHighwater)
    }

  /** Open a persisted index: the model tables collect to the driver
    * (nlist + m·k rows — a few KB, the same size class the direct path
    * inlines as expression literals) and are cached per JVM (see
    * [[modelCache]]); the codes table stays a lazy, partition-pruned
    * DataFrame — the LIVE view, i.e. tombstoned ids from
    * [[deleteFromIvfPqIndex]] are already excluded.
    */
  def openIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex =
    // hot serve path: TTL-cached resolution (safe by generation
    // retention — see AtomicStore.resolveCached)
    openIn(PqCodec, spark, AtomicStore.resolveCached(spark, path))

  /** Answer a query batch from a persisted index — no codebook fit, no
    * corpus re-encode, no corpus vector reads: the plan is the probe-side
    * kernel + a cell equi-join against the stored codes (whose partition
    * layout prunes to the probed cells) + ADC ranking. Bit-identical
    * results to the direct [[ivfPqTopK]] with the same parameters.
    */
  def ivfPqServe(
      index: IvfPqIndex,
      queryDf: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4
  ): DataFrame =
    scoreAssignedCells(index.codes, index.cents, index.books, index.residual,
      queryDf, idCol, vecCol, k, nprobe, index.m, index.dim / index.m)

  // ---- Persisted SQ×IVF index. Every mutation below carries the IVF-PQ
  // entry point's contract of the same name, through the shared lifecycle.

  /** Fit an SQ×IVF index on `df` and persist it under `path`: `meta`
    * (one row of params), `centroids` (nlist rows) and `codes` — one
    * `(id, c8)` row per corpus vector, partitioned by `cell`. The fit
    * and encode are exactly [[sqIvfTopK]]'s (same deterministic coarse
    * Lloyd's, same [[sqIvfEncode]] expressions), so serving from the
    * store is bit-identical to the direct composition — the integer
    * scores make that testable value-for-value.
    */
  def writeSqIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, dim: Int, nlist: Int = 16,
                      seed: Long = 42L, iters: Int = 10,
                      streamHighwater: Option[Long] = None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = pqCodebooks(df, vecCol, dim, m = 1, codebookSize = nlist,
      seed = seed, iters = iters, normalizeInput = false).head
    // same crash-atomic generation publish as [[writeIvfPqIndex]]
    val (gen, gdir) = AtomicStore.begin(spark, path)
    AtomicStore.failpoint("sqivf:meta")
    Seq((dim, nlist, seed, iters)).toDF("dim", "nlist", "seed", "iters")
      .write.mode("overwrite").parquet(s"$gdir/meta")
    AtomicStore.failpoint("sqivf:centroids")
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "vec")
      .write.mode("overwrite").parquet(s"$gdir/centroids")
    publish(SqCodec, spark, path, gen, gdir,
      sqIvfEncode(df, idCol, vecCol, cents), streamHighwater)()
  }

  /** [[appendToIvfPqIndex]] on the SQ×IVF store. */
  def appendToSqIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit =
    append(SqCodec, df, idCol, vecCol, path, owner = "appendToSqIvfIndex")

  /** [[deleteFromIvfPqIndex]] on the SQ×IVF store. */
  def deleteFromSqIvfIndex(ids: DataFrame, idCol: String, path: String): Unit =
    delete(SqCodec, ids, idCol, path, owner = "deleteFromSqIvfIndex")

  /** [[compactIvfPqIndex]] on the SQ×IVF store. */
  def compactSqIvfIndex(spark: SparkSession, path: String): Unit =
    compact(SqCodec, spark, path, owner = "compactSqIvfIndex")

  /** [[appendStreamBatch]] on the SQ×IVF store. */
  def appendSqIvfStreamBatch(df: DataFrame, idCol: String, vecCol: String,
                             path: String, batchId: Long): Boolean =
    appendStream(SqCodec, df, idCol, vecCol, path, batchId,
      "appendSqIvfStreamBatch")

  /** [[compactIvfPqStreamExtension]] on the SQ×IVF store: meta and
    * centroids copy verbatim (there is no codebook or cellstats).
    */
  def compactSqIvfStreamExtension(spark: SparkSession, path: String): Boolean =
    fold(SqCodec, spark, path, owner = "compactSqIvfStreamExtension")

  /** Staleness signal for the SQ×IVF store: the stream extension's share
    * of the index (`streamed / fitted` row counts). The SQ fit has no
    * per-cell codebooks to drift, but streamed vectors are still binned
    * by centroids fit on the OLD distribution — past a deployment's
    * tolerance the coarse balance degrades and a refit re-fits the cells
    * over the full current corpus. Parquet row counts come from footer
    * metadata; the probe is a metadata round-trip, not a scan.
    */
  def sqIvfStreamGrowth(spark: SparkSession, path: String): Double = {
    val dir = AtomicStore.resolve(spark, path)
    val extP = new org.apache.hadoop.fs.Path(s"$dir/codes_stream")
    if (!AtomicStore.fs(spark, dir).exists(extP)) 0.0
    else {
      val base = spark.read.parquet(s"$dir/codes")
      val streamed = readStreamExt(spark, extP.toString, base.schema).count()
      streamed.toDouble / math.max(base.count(), 1L)
    }
  }

  /** Growth-triggered SQ×IVF refit — the [[refitIvfPqIndex]] arc on the
    * int8 store: when the stream extension's share reaches `threshold`,
    * refit from the CURRENT corpus `df` with the persisted meta params
    * (bit-identical to a fresh fit on today's corpus with the same seed,
    * and the fresh generation starts with no extension). Returns whether
    * a refit happened.
    */
  def refitSqIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, threshold: Double = 0.5,
                      streamHighwater: Option[Long] = None): Boolean =
    refit(SqCodec, df.sparkSession, path, threshold, "refitSqIvfIndex") { meta =>
      writeSqIvfIndex(df, idCol, vecCol, path,
        dim = meta.getAs[Int]("dim"),
        nlist = meta.getAs[Int]("nlist"),
        seed = meta.getAs[Long]("seed"),
        iters = meta.getAs[Int]("iters"),
        streamHighwater = streamHighwater)
    }

  /** Open a persisted SQ×IVF index: the centroid table collects to the
    * driver (nlist rows) and is cached per JVM; the codes table stays a
    * lazy partition-pruned DataFrame (the live view).
    */
  def openSqIvfIndex(spark: SparkSession, path: String): SqIvfIndex =
    openIn(SqCodec, spark, AtomicStore.resolveCached(spark, path))

  /** Answer a query batch from a persisted SQ×IVF index — no coarse
    * fit, no corpus re-encode: probe-side kernel + cell equi-join
    * against the stored codes + integer-dot ranking. Bit-identical to
    * the direct [[sqIvfTopK]] with the same parameters.
    */
  def sqIvfServeIndex(index: SqIvfIndex, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, nprobe: Int = 4): DataFrame =
    sqIvfServe(index.codes, queries, idCol, vecCol, k, index.cents, nprobe)

  // ---- The shared store lifecycle, parameterised by an AnnCodec. Each
  // mutation takes the store's mutation lease under the public entry
  // point's name (`owner`) and resolves the committed generation ONCE;
  // every sub-step works inside it.

  private def append[I](c: AnnCodec[I], df: DataFrame, idCol: String,
                        vecCol: String, path: String, owner: String): Unit =
    AtomicStore.withMutationLease(df.sparkSession, path, owner = owner) {
      // a crashed append is invisible: parquet appends stage in
      // `_temporary/`, which readers ignore
      val dir = AtomicStore.resolve(df.sparkSession, path)
      encodeLive(c, df, idCol, vecCol, dir)
        .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
    }

  /** Encode `df` with generation `dir`'s stored model, first compacting
    * when one of its ids collides with a tombstone — so delete→re-add is
    * an upsert and only the new vector serves.
    */
  private def encodeLive[I](c: AnnCodec[I], df: DataFrame, idCol: String,
                            vecCol: String, dir: String): DataFrame = {
    val spark = df.sparkSession
    val ids = df.select(col(idCol).as(c.idCol)).distinct()
    // fast path: no tombstones, or none colliding — just a semi-join probe
    if (AtomicStore.tombstonesOpt(spark, dir)
          .exists(t => !t.join(ids, Seq(c.idCol), "left_semi").isEmpty))
      compactIn(c, spark, dir)
    c.encode(openIn(c, spark, dir), df, idCol, vecCol)
  }

  private def delete(c: AnnCodec[_], ids: DataFrame, idCol: String,
                     path: String, owner: String): Unit =
    AtomicStore.withMutationLease(ids.sparkSession, path, owner = owner) {
      ids.select(col(idCol).as(c.idCol)).distinct()
        .write.mode("append").parquet(
          s"${AtomicStore.resolve(ids.sparkSession, path)}/tombstones")
    }

  /** The replay-idempotent stream append behind [[appendStreamBatch]];
    * `entry` names the public entry point in the lease and the warning.
    */
  private def appendStream[I](c: AnnCodec[I], df: DataFrame, idCol: String,
                              vecCol: String, path: String, batchId: Long,
                              entry: String): Boolean = {
    val spark = df.sparkSession
    AtomicStore.withMutationLease(spark, path, owner = s"$entry:b$batchId") {
      val dir = AtomicStore.resolve(spark, path)
      streamHighwaterOf(spark, dir).filter(_ >= batchId) match {
        // a skip is only legitimate replay absorption when the replayed id
        // is AT or just under the folded watermark. A LARGE gap means the
        // stream restarted with a NEW checkpoint (batch ids reset to 0)
        // against a store whose fit recorded a high watermark — silently
        // dropping every batch until ids catch up is data loss, so say so
        // loudly (the caller chose at-least-once semantics; failing here
        // would wedge a legitimate replay, hence warn-not-throw) AND
        // leave a MACHINE-READABLE record the stream owner can assert on
        // ([[skippedStreamBatches]]) — a stderr line is not a signal
        case Some(hw) if hw - batchId > 1L =>
          System.err.println(s"[graft] $entry: batch $batchId " +
            s"skipped by stream highwater $hw at $path — a gap this large " +
            "usually means the stream restarted with a FRESH checkpoint " +
            "(batch ids reset) against an existing index; those batches are " +
            "NOT being appended. Point the new stream at a new index, refit, " +
            "or keep the original checkpoint directory. Recorded in " +
            "_skipped_batches (see Similarity.skippedStreamBatches).")
          recordSkippedBatch(spark, path, batchId, hw)
          true // DROPPED — the caller may choose to fail fast
        case Some(_) => false // legitimate replay absorption, not data loss
        case None =>
          encodeLive(c, df, idCol, vecCol, dir)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell")
            .parquet(s"$dir/codes_stream")
          writeBatchSentinel(spark, dir, batchId)
          false
      }
    }
  }

  /** Write the per-store record of a dropped stream batch (the fresh-
    * checkpoint highwater gap) — one empty marker file per skip at the
    * STORE ROOT (`_skipped_batches/b<id>_hw<hw>`), outside the generation
    * directories so the record survives refits and folds and is never
    * pruned by commits. Creation is idempotent (a replay of the skipped
    * batch re-skips onto the same file name).
    */
  private def recordSkippedBatch(spark: SparkSession, path: String,
                                 batchId: Long, highwater: Long): Unit = {
    val dirP = new org.apache.hadoop.fs.Path(s"$path/_skipped_batches")
    val fs = AtomicStore.fs(spark, path)
    fs.mkdirs(dirP)
    // BOUNDED ledger: a misconfigured fresh-checkpoint stream left
    // running drops EVERY batch — per-batch markers for the first
    // window keep the forensic detail, then a single overwritten
    // `overflow` record tracks the latest drop (the signal is binary by
    // then; an unbounded marker directory would itself become the
    // metadata problem). The listing is one round-trip in a regime that
    // is already an error path.
    if (fs.listStatus(dirP).length < SkippedLedgerCap) {
      val f = new org.apache.hadoop.fs.Path(
        s"$path/_skipped_batches/b${batchId}_hw$highwater")
      try fs.create(f, false).close()
      catch { case _: java.io.IOException => () } // replayed skip: same record
    } else {
      AtomicStore.writeSmallFile(fs, new org.apache.hadoop.fs.Path(
        s"$path/_skipped_batches/overflow"), s"$batchId:$highwater")
    }
  }

  /** Per-batch skip markers beyond this collapse into one `overflow`
    * record — see [[recordSkippedBatch]].
    */
  private val SkippedLedgerCap = 512

  /** The DROPPED-batch ledger of a stream-maintained store — one row
    * `(batch_id, highwater)` per micro-batch the highwater gap guard
    * refused (see [[appendStreamBatch]]'s fresh-checkpoint warning). A
    * stream owner asserts this is EMPTY as part of its health checks; a
    * non-empty ledger means a restarted-with-fresh-checkpoint stream is
    * silently dropping data and the index needs a refit or a new path.
    * Pure metadata (one directory listing), no scan.
    */
  def skippedStreamBatches(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dirP = new org.apache.hadoop.fs.Path(s"$path/_skipped_batches")
    val fs = AtomicStore.fs(spark, path)
    val names: Seq[String] =
      if (!fs.exists(dirP)) Seq.empty
      else fs.listStatus(dirP).toSeq.map(_.getPath.getName)
    val itemized = names.collect {
      case s if s.startsWith("b") && s.contains("_hw") =>
        val Array(b, hw) = s.drop(1).split("_hw", 2)
        (b.toLong, hw.toLong)
    }
    // past the cap the latest drop lives in the single overflow record
    val overflow = if (!names.contains("overflow")) Seq.empty else {
      AtomicStore.readSmallFile(fs, new org.apache.hadoop.fs.Path(
        s"$path/_skipped_batches/overflow")).split(":", 2) match {
        case Array(b, hw) => Seq((b.toLong, hw.toLong))
        case _ => Seq.empty
      }
    }
    (itemized ++ overflow).distinct.sorted.toDF("batch_id", "highwater")
  }

  private def compact(c: AnnCodec[_], spark: SparkSession, path: String,
                      owner: String): Unit =
    AtomicStore.withMutationLease(spark, path, owner = owner) {
      compactIn(c, spark, AtomicStore.resolve(spark, path))
    }

  /** [[compactIvfPqIndex]] inside an already-resolved generation
    * directory. Crash-safe without a new generation: rewritten cells
    * already exclude the dead rows, and the tombstones are only dropped
    * LAST — a crash at any interior point leaves the anti-join still
    * masking them, so reads before/during/after are identical.
    *
    * BOTH physical tables the live view unions are rewritten: the base
    * `codes` AND the stream extension `codes_stream` (when present). A
    * tombstoned id whose rows arrived via [[appendStreamBatch]] lives
    * only in the extension — rewriting the base alone and then dropping
    * the tombstones would resurrect it (the anti-join mask disappears
    * while its physical rows survive).
    */
  private def compactIn(c: AnnCodec[_], spark: SparkSession, dir: String): Unit =
    AtomicStore.tombstonesOpt(spark, dir).foreach { tomb =>
      val fs = AtomicStore.fs(spark, dir)
      val base = spark.read.parquet(s"$dir/codes")
      compactTable(spark, fs, s"$dir/codes", Seq("cell"), tomb, base, c.idCol)
      // the stream leg reads via readStreamExt (explicit schema), never
      // inference: an extension directory with no committed data files —
      // every partition deleted by an EARLIER tombstone compaction, or a
      // crashed first append's lone `_temporary/` — must read as empty,
      // not throw "Unable to infer schema" and brick every later
      // delete/compact/auto-compacting append on the store
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/codes_stream")))
        compactTable(spark, fs, s"$dir/codes_stream",
          Seq("batch_id", "cell"), tomb,
          readStreamExt(spark, s"$dir/codes_stream", base.schema),
          c.idCol, allowEmpty = true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/tombstones"), true)
    }

  /** Rewrite ONLY the partitions of one codes table that contain a
    * tombstoned id (dynamic partition overwrite — untouched partitions
    * keep their original files); a partition whose every row was
    * tombstoned is dropped directly (dynamic overwrite never visits it).
    */
  private def compactTable(spark: SparkSession,
                           fs: org.apache.hadoop.fs.FileSystem,
                           table: String, partCols: Seq[String],
                           tomb: DataFrame, codes: DataFrame,
                           idJoin: String,
                           allowEmpty: Boolean = false): Unit = {
    def partPath(vals: Seq[Any]): String =
      partCols.zip(vals).map { case (c, v) => s"$c=$v" }.mkString("/")
    val affected = codes.join(tomb, Seq(idJoin), "left_semi")
      .select(partCols.map(col): _*).distinct().collect()
      .map(r => partCols.indices.map(r.get))
    if (affected.nonEmpty) {
      // survivors of the affected partitions only; staged through a temp
      // dir because Spark refuses to overwrite a path it is reading from
      val tmp = s"${table}_compact_tmp"
      val hit = affected.map(partPath).toSet
      // OR-of-equalities over the partition columns: partition pruning
      // handles equality disjunctions, so only the affected partition
      // directories are read. BOUNDED: past a few hundred terms the
      // left-nested Or tree costs Catalyst more than the pruning saves
      // (and codegen has a 64KB method limit) — and a tombstone set
      // touching thousands of partitions is going to rewrite most of the
      // table anyway, so fall back to a broadcast semi-join against the
      // affected tuples (full scan, bounded plan).
      val affectedHit =
        if (affected.size <= CompactPredicateMaxTerms)
          codes.where(affected.map { vals =>
            partCols.zip(vals).map { case (c, v) => col(c) === lit(v) }
              .reduce(_ && _)
          }.reduce(_ || _))
        else {
          import spark.implicits._
          val tuples = affected.map(partPath).toSeq.toDF("__part")
          codes.withColumn("__part", concat_ws("/",
              partCols.map(c => concat(lit(c + "="), col(c).cast("string"))): _*))
            .join(broadcast(tuples), Seq("__part"), "left_semi")
            .drop("__part")
        }
      val survivors = affectedHit.join(tomb, Seq(idJoin), "left_anti")
      survivors.write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp)
      // an empty partitioned write emits no data files, so the staged
      // read needs the survivors' schema handed to it explicitly — and
      // with zero survivors the dynamic overwrite is a no-op anyway
      val staged = spark.read.schema(survivors.schema).parquet(tmp)
      val stillThere = staged.select(partCols.map(col): _*).distinct()
        .collect().map(r => partPath(partCols.indices.map(r.get))).toSet
      // a BASE codes table must never end up data-free: its schema is
      // only recoverable from its own files, so deleting the last data
      // file bricks every later open/serve/compact on failed schema
      // inference. A 100%-tombstoned corpus is a store drop, not a
      // compaction — refuse loudly (the mask already serves zero rows,
      // nothing is lost by leaving the dead files until the operator
      // drops or refits the store). Stream extensions pass allowEmpty:
      // they are read with an explicit schema and removed when empty.
      if (!allowEmpty && stillThere.isEmpty) {
        val total = codes.select(partCols.map(col): _*).distinct().count()
        if (total == affected.length) {
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          throw new IllegalStateException(
            s"compacting $table would delete its LAST data file (every " +
              "remaining row is tombstoned). Serving already returns " +
              "nothing under the tombstone mask; drop the store directory " +
              "or refit it instead of compacting an all-deleted corpus.")
        }
      }
      if (stillThere.nonEmpty)
        staged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*).parquet(table)
      hit.filterNot(stillThere).foreach { p =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$table/$p"), true)
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
  }

  /** Affected-partition count above which [[compactTable]] switches from
    * the prunable OR-of-equalities filter to a broadcast semi-join (see
    * inline note); test-visible so the join leg is exercised at small
    * sizes.
    */
  private[graft] var CompactPredicateMaxTerms = 256

  private def fold(c: AnnCodec[_], spark: SparkSession, path: String,
                   owner: String): Boolean =
    AtomicStore.withMutationLease(spark, path, owner = owner) {
      foldIn(c, spark, path)
    }

  /** [[compactIvfPqStreamExtension]] under the held lease. */
  private def foldIn(c: AnnCodec[_], spark: SparkSession, path: String): Boolean = {
    val dir = AtomicStore.resolve(spark, path)
    val extP = new org.apache.hadoop.fs.Path(s"$dir/codes_stream")
    val extFs = AtomicStore.fs(spark, dir)
    if (!extFs.exists(extP)) return false
    compactIn(c, spark, dir) // fold tombstones into BOTH tables first
    // a data-free extension (every streamed row tombstone-compacted
    // away) has nothing to fold — remove the empty directory so later
    // opens skip the union branch entirely
    val base = spark.read.parquet(s"$dir/codes")
    val extRows = readStreamExt(spark, extP.toString, base.schema)
    if (extRows.isEmpty) { extFs.delete(extP, true); return false }
    val maxBatch = extRows
      .agg(max(col("batch_id").cast("long"))).head().getLong(0)
    // completion boundary: only batches whose parquet job COMMITTED (the
    // append's `_complete_b<N>` sentinel) fold and raise the highwater. A
    // batch killed mid-write — even mid-commit, which leaves partial data
    // files — has no sentinel: its rows are CARRIED into the fresh
    // generation's extension untouched, so the at-least-once replay still
    // finds batch_id partitions to rewrite instead of being absorbed by a
    // highwater that covered half a batch. A pre-sentinel extension
    // (no markers at all) folds whole, as before.
    val maxComplete =
      sentineledBatches(spark, extP).fold(maxBatch)(_.foldLeft(-1L)(math.max))
    val hw = math.max(streamHighwaterOf(spark, dir).getOrElse(-1L), maxComplete)
    val foldable =
      extRows.where(col("batch_id").cast("long") <= lit(maxComplete))
    val carry =
      extRows.where(col("batch_id").cast("long") > lit(maxComplete))
    // tombstones were folded by compactIn above, so live = base ∪ foldable
    val merged = base.unionByName(
      foldable.select(base.columns.toIndexedSeq.map(col): _*))
    val (gen, gdir) = AtomicStore.begin(spark, path)
    AtomicStore.failpoint(s"${c.prefix}:meta")
    c.modelTables.foreach { t =>
      spark.read.parquet(s"$dir/$t").write.mode("overwrite").parquet(s"$gdir/$t")
    }
    publish(c, spark, path, gen, gdir, merged, Some(hw)) {
      if (maxComplete < maxBatch) {
        carry.write.mode("overwrite").partitionBy("batch_id", "cell")
          .parquet(s"$gdir/codes_stream")
        // convention marker: the carried extension has no sentinels of its
        // own — without this a second fold would misread it as legacy
        extFs.create(new org.apache.hadoop.fs.Path(
          s"$gdir/codes_stream/_sentinels_enabled"), true).close()
      }
    }
    true
  }

  /** Staleness-gated refit: below `threshold` the store is untouched;
    * otherwise `fit` rewrites it from the persisted meta row (a fresh
    * generation, which starts with no tombstones — a refit defines the
    * whole store).
    */
  private def refit(c: AnnCodec[_], spark: SparkSession, path: String,
                    threshold: Double, owner: String)
                   (fit: org.apache.spark.sql.Row => Unit): Boolean =
    AtomicStore.withMutationLease(spark, path, owner = owner) {
      if (c.staleness(spark, path) < threshold) false
      else {
        fit(spark.read.parquet(s"${AtomicStore.resolve(spark, path)}/meta").head())
        true
      }
    }

  /** The shared tail of every generation a fit or fold writes: the codes
    * table, then what derives from it (`afterCodes`), then the stream
    * highwater (`_stream_highwater`, written or scrubbed), the commit and
    * the model-cache invalidation.
    *
    * Stream-maintained indexes record the last FOLDED micro-batch id
    * INSIDE the generation, before the commit — atomic with the fit, so
    * an at-least-once replay of that batch can never double-apply it (the
    * append guard reads this watermark); a non-stream fit scrubs any
    * stale one from a reused generation directory.
    */
  private def publish(c: AnnCodec[_], spark: SparkSession, path: String,
                      gen: Long, gdir: String, codes: DataFrame,
                      streamHighwater: Option[Long])
                     (afterCodes: => Unit = ()): Unit = {
    AtomicStore.failpoint(s"${c.prefix}:codes")
    codes.write.mode("overwrite").partitionBy("cell").parquet(s"$gdir/codes")
    afterCodes
    val hwPath = new org.apache.hadoop.fs.Path(s"$gdir/_stream_highwater")
    val hwFs = AtomicStore.fs(spark, gdir)
    streamHighwater match {
      case Some(hw) => AtomicStore.writeSmallFile(hwFs, hwPath, hw.toString)
      case None =>
        if (hwFs.exists(hwPath)) { hwFs.delete(hwPath, false); () }
    }
    AtomicStore.commit(spark, path, gen)
    // the model under `path` just changed — drop its cached generations
    // (belt-and-braces: generation keys never go stale, this frees them
    // eagerly after an in-process rewrite)
    modelCache.keys
      .filter { case (_, k) => k == path || k.startsWith(path + "/") }
      .foreach(modelCache.remove)
  }

  /** Per-JVM cache of opened index MODELS (the codec's driver-side tables
    * plus the codes schema): a server loads the model once and serves
    * many batches — re-collecting the model tables per query benchmarks
    * the open path, not serving. Keyed by codec and GENERATION directory,
    * which is immutable once committed (a refit or fold publishes a NEW
    * generation — `AtomicStore`), so an entry can never go stale: an
    * out-of-process refit changes what the open resolves to, which is a
    * different cache key. Append/delete/compact touch only the
    * codes/tombstones, which stay lazy per call.
    */
  private val modelCache = scala.collection.concurrent.TrieMap.empty[
    (AnnCodec[_], String),
    (DataFrame => Any, org.apache.spark.sql.types.StructType)]

  /** Open generation `dir` (already resolved — the mutation paths resolve
    * once and reuse it): the cached model over the live codes view.
    */
  private def openIn[I](c: AnnCodec[I], spark: SparkSession, dir: String): I = {
    val (model, codesSchema) = modelCache.getOrElseUpdate((c, dir),
      // the codes schema rides in the model cache: append/delete/compact
      // preserve it (same encoder, same partition layout), so later
      // serves skip the per-open schema-inference job
      (c.loadModel(spark, dir), spark.read.parquet(s"$dir/codes").schema))
    model(liveCodes(c, spark, dir, Some(codesSchema))).asInstanceOf[I]
  }

  /** Schema-robust read of a `codes_stream` extension table: an EXPLICIT
    * schema (the base codes schema + the `batch_id` partition column),
    * so a directory holding no committed parquet files — every row
    * tombstone-compacted away, or a crashed FIRST append's lone
    * `_temporary/` — reads as an empty frame instead of failing schema
    * inference and bricking every open/serve on the store.
    */
  private def readStreamExt(spark: SparkSession, extPath: String,
      baseSchema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(org.apache.spark.sql.types.StructType(
        baseSchema.fields :+ org.apache.spark.sql.types.StructField(
          "batch_id", org.apache.spark.sql.types.LongType)))
      .parquet(extPath)

  /** The live view of the codes table: stored codes minus tombstoned ids.
    * The anti-join broadcasts while the tombstone set is small (the
    * normal regime — compaction keeps it from growing unboundedly) and
    * degrades to a shuffled anti-join, never a scan-per-id, beyond that.
    */
  private def liveCodes(c: AnnCodec[_], spark: SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val reader = schema.map(spark.read.schema(_)).getOrElse(spark.read)
    val base = reader.parquet(s"$dir/codes")
    // stream-grown extension ([[appendStreamBatch]]): same (id, codes,
    // cell) rows, additionally partitioned by batch_id for idempotent
    // replay — union preserves cell partition pruning on both sides
    val extP = new org.apache.hadoop.fs.Path(s"$dir/codes_stream")
    val codes =
      if (AtomicStore.fs(spark, dir).exists(extP))
        base.unionByName(readStreamExt(spark, extP.toString, base.schema)
          .select(base.columns.toIndexedSeq.map(col): _*))
      else base
    AtomicStore.tombstonesOpt(spark, dir)
      .map(t => codes.join(t, Seq(c.idCol), "left_anti")).getOrElse(codes)
  }

  /** Mark a stream micro-batch's extension write as fully JOB-COMMITTED:
    * an empty `_complete_b<N>` file at the extension root, created only
    * AFTER the batch's parquet job commits (and re-created by an
    * at-least-once replay's rewrite). The extension folds read these as
    * the completion boundary: a kill inside the parquet job — including
    * inside the committer's file-move loop, which leaves PARTIAL data
    * files — leaves no sentinel, so a fold that runs before the stream
    * restarts must neither merge that batch's partial rows into base nor
    * raise the highwater over it (the replay would then be absorbed and
    * the partial rows would serve forever). Underscore-prefixed, so
    * Spark's file index and [[streamExtensionDirCount]] both ignore it;
    * the files live and die with the extension directory.
    */
  private def writeBatchSentinel(spark: SparkSession, dir: String,
                                 batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"$dir/codes_stream/_complete_b$batchId")
    AtomicStore.fs(spark, dir).create(p, true).close()
  }

  /** Batch ids the extension holds completion sentinels for. `None` for
    * a PRE-SENTINEL (legacy) extension — no `_complete_b*` and no
    * `_sentinels_enabled` convention marker — which the folds treat as
    * all-complete (the pre-sentinel behavior). `Some(empty)` is an
    * extension that follows the convention but holds no complete batch:
    * a fold that CARRIED a partial batch writes the convention marker
    * alongside it, so a second fold before the replay arrives cannot
    * mistake the carried rows for a legacy all-complete extension and
    * fold them after all.
    */
  private def sentineledBatches(spark: SparkSession,
      extP: org.apache.hadoop.fs.Path): Option[Set[Long]] = {
    val fs = AtomicStore.fs(spark, extP.toString)
    if (!fs.exists(extP)) None
    else {
      val names = fs.listStatus(extP).iterator
        .filter(_.isFile).map(_.getPath.getName).toSeq
      val ids = names.filter(_.startsWith("_complete_b"))
        .flatMap(n => scala.util.Try(
          n.drop("_complete_b".length).toLong).toOption)
        .toSet
      if (ids.isEmpty && !names.contains("_sentinels_enabled")) None
      else Some(ids)
    }
  }

  /** Last micro-batch id a generation's FIT already folded in — written
    * by a stream-triggered refit ([[writeIvfPqIndex]]'s `streamHighwater`)
    * atomically with the generation.
    */
  private def streamHighwaterOf(spark: SparkSession, dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_stream_highwater")
    val fs = AtomicStore.fs(spark, dir)
    if (!fs.exists(p)) None else Some(AtomicStore.readSmallFile(fs, p).toLong)
  }

  /** Fragmentation signal of a stream-maintained store: the number of
    * first-level `batch_id=…` partition directories in the `codes_stream`
    * extension (one survives per un-folded micro-batch; the per-cell
    * fan-out below them scales with it). The metadata-bound regime
    * SCALE.md measures sets in as this grows, so the stream drivers'
    * DEFAULT-ON fold triggers on it — unlike a batch counter, it
    * self-corrects when a drift refit resets the layout invisibly. One
    * `listStatus` of the extension root; works for both the IVF-PQ and
    * SQ×IVF stores (same extension layout).
    */
  def streamExtensionDirCount(spark: SparkSession, path: String): Int = {
    val dir = AtomicStore.resolve(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$dir/codes_stream")
    val fs = AtomicStore.fs(spark, dir)
    if (!fs.exists(p)) 0 else fs.listStatus(p).count(_.isDirectory)
  }

  /** ANN top-k via LSH: bucket on signature bands, rank within buckets.
    * Recall < 1 by construction; `bands` trades recall vs. bucket size.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    require(bands >= 1 && bits % bands == 0 && bits / bands >= 1,
      s"bits=$bits must be a positive multiple of bands=$bands: " +
        "bitsPerBand = 0 keys EVERY vector into one bucket per band (the " +
        "silent all-pairs blowup), and a remainder silently ignores the " +
        "top signature bits (recall below the configured operating point)")
    val bitsPerBand = bits / bands
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("sig", hyperplaneSignature(col("v"), dim, bits, seed))
    val banded = v.select(col(idCol), col("v"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("v"), col("bk.band"), col("bk.key"))
    val l = banded.select(col(idCol).as("id1"), col("v").as("v1"), col("band"), col("key"))
    val r = banded.select(col(idCol).as("id2"), col("v").as("v2"), col("band"), col("key"))
    val sims = l.join(r, Seq("band", "key")).where(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), Dedup.cosine(col("v1"), col("v2")).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
