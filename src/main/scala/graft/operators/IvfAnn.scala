package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path for embedding search, complementing the sign-LSH buckets of
  * [[SimilarityQueries]].
  *
  * Shape (the 100 TB design):
  *  - K centroids are tiny → always BROADCAST; cell assignment is a
  *    map-side argmax over K cosine similarities (one narrow shuffle by
  *    vec_id for the deterministic rank-1 pick).
  *  - the corpus is then partitioned by cell id; a query probes only
  *    `NProbe` cells — the candidate scan is 1/K of the data per probe,
  *    and each cell is searched independently (embarrassingly parallel).
  *  - `trainCentroids` runs Lloyd's k-means as pure DataFrame ops
  *    (assign = broadcast argmax, update = explode to (cell, dim) and
  *    average) — deterministic given the deterministic first-K init, so
  *    results are reproducible across runs and cluster sizes.
  *
  * The gate query ([[x7IvfTopK]]) uses untrained first-K centroids so an
  * independent SQL engine can reproduce it bit-for-bit; the trained path
  * is exercised by IvfAnnSpec (recall vs the brute-force baseline).
  */
object IvfAnn {

  val K = 16
  val NProbe = 2

  private def vectors(s: SparkSession, dir: String): DataFrame = {
    embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
  }

  /** (vec_id, v, sim, cid) for every vector × centroid pair; centroids
    * broadcast. */
  private def centroidSims(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"),
        vecCosine(col("v"), col("cv")).as("sim"))

  /** Centroids packed FLAT for the [[graft.functions.VectorKernels
    * .nearestCell]] kernel: one row of (cids in cid order, their
    * vectors concatenated in the same order). Order only pins flat
    * index ↔ cid — the argmax itself is order-independent. */
  private def flatCentroids(cents: DataFrame): DataFrame =
    cents.agg(
      transform(sort_array(collect_list(struct(col("cid"), col("cv")))),
        p => p.getField("cid").cast("long")).as("_g_cids"),
      flatten(transform(
        sort_array(collect_list(struct(col("cid"), col("cv")))),
        p => p.getField("cv").cast("array<double>"))).as("_g_flat"))

  /** Nearest-centroid cell per vector (sim desc, cid asc — the tie-break
    * is pinned so any engine reproduces the same assignment).
    *
    * Shape: a map-side argmax over the broadcast packed-centroid array —
    * struct comparison is lexicographic, so max(struct(sim, -cid)) IS the
    * pinned rank-1 pick. The naive alternative (explode corpus × K, then
    * row_number over vec_id) shuffles every embedding vector K times and
    * sorts; this never shuffles the corpus at all. The metric is the FULL
    * cosine (not the algebraically-equivalent dot/|cv|): the oracle and
    * qcells rank by cosine, and only the identical IEEE computation
    * guarantees identical tie-breaks on near-equal centroids. */
  def assignCells(emb: DataFrame, cents: DataFrame,
      portable: Boolean = false): DataFrame = {
    // portable: the argmax compares round(sim, 6) — near-equal centroid
    // similarities then DECIDE IDENTICALLY on any engine whose raw
    // cosine agrees to ~1e-15 (everything inside the quantum away from
    // a rounding boundary), which is what lets an external oracle
    // replay a TRAINED assignment ([[trainCentroids]] portable doc).
    // The default stays the full-precision argmax — the oracled
    // untrained gates (x7/x14/x15) pin that convention.
    //
    // The decision runs in the fused [[graft.functions.VectorKernels
    // .nearestCell]] codegen kernel — the earlier array_max(transform)
    // form evaluated its lambda INTERPRETED per centroid (the measured
    // cost of Lloyd's training); the kernel replays the identical
    // one-pass cosine sequence, Spark's NaN-greatest double ordering
    // and the min-cid tie-break (spec-held kernel == HOF form), so
    // assignments and every downstream oracle hash are unchanged.
    emb.crossJoin(broadcast(flatCentroids(cents)))
      // an EMPTY centroid table yields a NULL cell (the kernel's empty
      // guard); without this filter every vector would carry a null
      // cell instead of the zero rows the argmax semantics imply
      .withColumn("cell", vecNearestCell(
        col("v"), col("_g_flat"), col("_g_cids"),
        lit(if (portable) 6 else -1)))
      .filter(col("cell").isNotNull)
      .select(col("vec_id"), col("v"), col("cell"))
  }

  /** Gate query: IVF top-10 for the vec_id=0 query with untrained
    * centroids (the first K vectors by id) and NProbe=2. */
  def x7IvfTopK(s: SparkSession, dir: String): DataFrame =
    x7SearchAt(s, dir, NProbe)

  /** The x7 probe at an arbitrary `nprobe` — the accuracy-vs-cost dial
    * the x25 recall gate sweeps (same deterministic first-K centroids). */
  def x7SearchAt(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val emb = vectors(s, dir)
    val cents = emb.filter(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    ivfSearch(emb, cents, nprobe)
  }

  /** IVF search against an arbitrary centroid table (cid, cv). */
  def ivfSearch(emb: DataFrame, cents: DataFrame,
      nprobe: Int = NProbe): DataFrame = {
    val sims = centroidSims(emb, cents)
    val cells = assignCells(emb, cents)
    // top-NProbe over K rows: orderBy+limit plans as TakeOrderedAndProject
    // (parallel partial top-k, no Window, no single-partition Exchange);
    // the (sim desc, cid asc) tie-break is total because cid is unique
    val qcells = sims.filter(col("vec_id") === 0)
      .orderBy(col("sim").desc, col("cid").asc)
      .limit(nprobe)
      .select(col("cid").as("cell"))
    val q = emb.filter(col("vec_id") === 0).select(col("v").as("qv"))
    cells.filter(col("vec_id") =!= 0)
      .join(broadcast(qcells), Seq("cell"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(vecCosine(col("v"), col("qv")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Lloyd's k-means over the embedding column, pure DataFrame ops.
    * Init = first `k` vectors by id (deterministic). Each iteration:
    * assign (broadcast argmax) → update (posexplode to (cell, dim),
    * average, re-assemble). Returns (cid, cv). `iters` is small and the
    * centroid table is tiny (K×dim doubles — a function of parameters,
    * never of the data), so every round MATERIALIZES it driver-local
    * ([[ScaleUtils.materializeLocal]]): each iteration runs exactly one
    * corpus scan, the plan stays constant-depth instead of nesting per
    * round, and the returned relation is driver-local — consumers
    * (broadcast joins, driver-side cell ranking) read it for free with
    * NO persist to leak in the session CacheManager. */
  /** Deterministic density-flattened seeding — the measured fix for the
    * Lloyd's init lottery the r15 adversarial-recall sweep exposed
    * (PLANS: first-k-by-id donors land ∝ mass, so a 0.04%-mass tail
    * cluster gets a nearby centroid only ~20% of the time, full and
    * sampled training alike). One pass: bucket every vector by
    * sign-LSH over the baked hyperplane family (direction-uniform —
    * a giant cluster occupies its few direction buckets however many
    * members it has, so mass cannot crowd out regions), take the k
    * most-populated buckets (count desc, bucket asc — deterministic),
    * seed each with its min-id member. The k-means|| idea (oversample
    * regions cheaply, then reduce) without the sequential
    * distance-weighted draws k-means++ needs. Constraint: the plane
    * family is baked at [[SimilarityQueries.EmbDim]] dims, so inputs
    * must carry that dimensionality (every corpus here does). Not yet
    * oracle-mirrored — opt-in only; no gate uses it. */
  private[operators] def spreadSeeds(emb: DataFrame, k: Int): DataFrame = {
    // enough planes for ~4k occupied buckets, capped: 2^20 bucket ids
    var planes = 2
    while ((1L << planes) < 4L * k && planes < 20) planes += 1
    val top = emb.withColumn("_g_b", SimilarityQueries.lshBucket(planes))
      .groupBy(col("_g_b"))
      .agg(count(lit(1)).as("_g_n"), min(col("vec_id")).as("_g_seed"))
      .orderBy(col("_g_n").desc, col("_g_b").asc)
      .limit(k)
      .select(col("_g_seed").as("vec_id"))
    val picked = emb.join(broadcast(top), Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val got = ScaleUtils.materializeLocal(picked)
    val nGot = got.count()
    if (nGot >= k) got
    else {
      // fewer occupied buckets than k: pad with the smallest-id
      // non-seed vectors (the classic init), deterministically
      val pad = emb.join(broadcast(got.select(col("cid").as("vec_id"))),
          Seq("vec_id"), "left_anti")
        .orderBy(col("vec_id")).limit(k - nGot.toInt)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      ScaleUtils.materializeLocal(got.unionByName(pad))
    }
  }

  def trainCentroids(emb0: DataFrame, k: Int = K, iters: Int = 5,
      portable: Boolean = false, seedSpread: Boolean = false): DataFrame = {
    // iterated map-side passes need input-side parallelism
    ScaleUtils.withSpreadPinned(emb0)(
      trainCentroidsOn(_, k, iters, portable, seedSpread))
  }

  private def trainCentroidsOn(emb: DataFrame, k: Int, iters: Int,
      portable: Boolean, seedSpread: Boolean): DataFrame = {
    // portable = ORACLE-REPLAYABLE training: every decision the loop
    // makes quantizes to 6 decimals first — assignments argmax on
    // round(cosine, 6) (tie → min cid) and centroid updates store the
    // EXACT integer micro-mean ([[graft.functions.MicroMeanAgg]]:
    // pico-quantized order-independent sums, exact half-away-from-zero
    // division to the micro grid) — so an external engine whose raw
    // arithmetic agrees to ~1e-15 (the proven x1/x12 envelope) makes
    // the SAME decision at every step and the whole ITERATED
    // computation stays bit-equal across engines; unrounded, a
    // last-ulp avg() difference (summation order is merge-order-
    // dependent even run to run) could flip one assignment and
    // cascade — and the earlier round(double-sum, 6) form still
    // carried the halfway-residue hazard the integer kernel closes.
    // The 1e-6 quantum is noise against quantization error — recall
    // is unchanged (spec-held).
    // init (default) = the k smallest-id vectors: deterministic AND
    // id-value-agnostic (frames whose ids don't start at 0 — e.g. via
    // EmbeddingOps — train identically to the contiguous-id testdata);
    // seedSpread opts into the density-flattened [[spreadSeeds]] init
    var cents =
      if (seedSpread) spreadSeeds(emb, k)
      else ScaleUtils.materializeLocal(
        emb.orderBy(col("vec_id")).limit(k)
          .select(col("vec_id").as("cid"), col("v").as("cv")))
    for (_ <- 1 to iters) {
      val assigned = assignCells(emb, cents, portable)
      // update = per-cell vector mean via ONE buffer per cell folded
      // map-side ([[graft.functions.VecSumAgg]] shape), replacing the
      // posexplode-to-(cell,dim) form whose d× row amplification paid
      // the hash-agg probe per DIMENSION per iteration (the measured
      // residual cost of x34's training). Portable mode uses the EXACT
      // integer kernel [[graft.functions.MicroMeanAgg]]: pico-quantized
      // 128-bit sums + exact half-away-from-zero division to the micro
      // grid, so the stored centroid is order-independent and
      // bit-reproducible on any engine BY CONSTRUCTION — including on
      // the 2^a·5^b halfway residues where the earlier
      // round(double-sum/n, 6) could legitimately round apart from the
      // oracle (the r12 audit's latent case, closed r13). Non-portable
      // keeps the raw sum/count division avg performs.
      val updated =
        if (portable)
          assigned.groupBy(col("cell"))
            .agg(graft.functions.MicroMeanAgg.vec_mean_micro(
              col("v").cast("array<double>")).as("nv"))
            .select(col("cell").as("cid"), col("nv"))
        else assigned
          .groupBy(col("cell"))
          .agg(graft.functions.VecSumAgg.vec_sum(
              col("v").cast("array<double>")).as("_g_sums"),
            count(col("v")).as("_g_n"))
          .select(col("cell").as("cid"),
            transform(col("_g_sums"), s => s / col("_g_n")).as("nv"))
      // empty cells keep their previous centroid (no silent k shrinkage)
      cents = ScaleUtils.materializeLocal(
        cents.join(updated, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("nv"), col("cv")).as("cv")))
    }
    cents
  }

  /** Trained-IVF search: train on the corpus, then probe. Centroids come
    * back driver-local from the trainer — nothing to persist or release. */
  def ivfTrainedTopK(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val emb = vectors(s, dir)
    ivfSearch(emb, trainCentroids(emb, K, iters))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-duplicate
    * removal with the quadratic cost bounded by clustering. Every vector
    * joins its nearest-centroid cell; cosine is compared ONLY within a
    * cell; a vector is dropped when some SMALLER id in its cell exceeds
    * `tau` (keep-the-minimum, the same deterministic survivor rule as the
    * exact/LSH dedup family).
    *
    * Output: one row per DROPPED vector — (vec_id, cell, n_similar LONG,
    * max_cos). Callers anti-join it against the corpus.
    *
    * Scale shape: centroids broadcast, assignment map-side (the corpus
    * never shuffles to find its cell), then ONE shuffle by cell for the
    * self-join — each cell compares n/K vectors pairwise independently, so
    * K tunes the quadratic term: at 100 TB, K ≈ corpus/√target keeps every
    * cell's pair count constant. The self-join's two sides are canonically
    * identical, so the cell shuffle is written ONCE and reused (verified:
    * ReusedExchange in the executed plan) — no persist, nothing left in
    * the session CacheManager. */
  def semDedup(emb: DataFrame, cents: DataFrame, tau: Double): DataFrame = {
    val cells = assignCells(emb, cents)
    val lhs = cells.select(col("cell"), col("vec_id").as("_g_ia"),
      col("v").as("_g_va"))
    val rhs = cells.select(col("cell"), col("vec_id"), col("v").as("_g_vb"))
    lhs.join(rhs, Seq("cell"))
      .filter(col("_g_ia") < col("vec_id"))
      .select(col("vec_id"), col("cell"),
        round(vecCosine(col("_g_va"), col("_g_vb")), 6).as("_g_cos"))
      .filter(col("_g_cos") > tau)
      .groupBy(col("vec_id"), col("cell"))
      .agg(count(lit(1)).as("n_similar"), max(col("_g_cos")).as("max_cos"))
  }

  /** Gate query: SemDeDup drops over the embeddings table with untrained
    * first-K centroids (oracle-reproducible) at the x6 threshold. */
  def x14SemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = vectors(s, dir)
    val cents = emb.filter(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    semDedup(emb, cents, tau = 0.4).orderBy("vec_id")
  }
}
