package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions._

/** Product quantization (PQ) — the third scale path for embedding search
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011), complementing the sign-LSH buckets and IVF cells already
  * in [[SimilarityQueries]]/[[IvfAnn]], and the affine int8 path of
  * x11: the vector is cut into M subvectors, each quantized to one of K
  * learned centroids, so a 64-dim float32 embedding compresses to M
  * single-byte codes (64× here) while distances remain computable from
  * the codes alone.
  *
  * Shape (the 100 TB design):
  *  - codebooks are M×K subvector centroids — constant-size → always
  *    BROADCAST; code assignment is a map-side struct-argmin (the same
  *    packed-array trick as [[IvfAnn.assignCells]]): the corpus never
  *    shuffles to get encoded, only the per-id code pivot pays one
  *    shuffle on the vector id.
  *  - training is Lloyd's k-means per subspace as pure DataFrame ops —
  *    all M subspaces train TOGETHER in each pass (sub is just a group
  *    key), so the corpus is scanned once per iteration, not M times.
  *  - ADC search collects only the M×K codebook to the driver, builds
  *    the query's distance look-up table there (the standard asymmetric
  *    distance computation), and ships it back as a broadcast literal:
  *    scoring a vector is M array look-ups + adds over its codes — the
  *    full float corpus is never read at query time, which is the whole
  *    point at 100 TB.
  *
  * The gate query ([[x12PqEncode]]) uses the untrained first-K codebook
  * so an independent SQL engine reproduces every code bit-for-bit (the
  * same trick as [[IvfAnn.x7IvfTopK]]); the trained path and ADC ranking
  * are exercised by ProductQuantizerSpec against the brute-force oracle.
  */
object ProductQuantizer {

  val M = 4
  val K = 16

  /** Squared L2 via the dot expansion |a|² − 2a·b + |b|², evaluated
    * left-to-right — the exact kernel sequence the x12 oracle replays
    * with DuckDB's list_inner_product; rounded to 6 so both engines
    * agree bit-for-bit before the argmin compares. */
  private[operators] def l2sq(a: Column, b: Column): Column =
    round(vecDot(a, a) - lit(2.0) * vecDot(a, b) + vecDot(b, b), 6)

  /** (pq_id, sub, sv): the corpus cut into `m` equal subvectors — a pure
    * per-row map (explode ×m of slices that are 1/m the size keeps total
    * bytes constant; no shuffle). Contract: the vector dimension must be
    * divisible by `m` — trailing dims of a non-divisible vector would be
    * silently dropped by the integer subvector width ([[IvfPq.build]]
    * validates this against the data before training). */
  def subvectors(emb: DataFrame, idCol: String, vecCol: String,
      m: Int = M): DataFrame = {
    val w = (size(col("pq_v")) / lit(m)).cast("int")
    emb.select(col(idCol).as("pq_id"), col(vecCol).as("pq_v"))
      .select(col("pq_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("pq_v"))
      .select(col("pq_id"), col("sub"),
        slice(col("pq_v"), col("sub") * w + 1, w).as("sv"))
  }

  /** Deterministic init: the k smallest-id vectors donate their
    * subvectors as codes 0..k-1 in every subspace (id-value-agnostic,
    * same convention as [[IvfAnn.trainCentroids]]). The k-row rank is
    * assigned on the DRIVER: a partition-less row_number() window would
    * plan a single-partition WindowExec even over this already-limit(k)
    * input, and the k ids are driver-scale by construction anyway. */
  def initCodebook(sv: DataFrame, k: Int = K): DataFrame = {
    val s = sv.sparkSession
    import s.implicits._
    val ids = sv.select(col("pq_id").cast("long")).distinct()
      .orderBy(col("pq_id")).limit(k)
      .collect().map(_.getLong(0))
    val coded = ids.zipWithIndex.toSeq.toDF("pq_id", "code")
    sv.join(broadcast(coded), Seq("pq_id"))
      .select(col("sub"), col("code"), col("sv").as("cv"))
  }

  /** Nearest-code assignment per (vector, subspace): broadcast the
    * per-subspace codebook FLATTENED in code order and take the fused
    * [[graft.functions.VectorKernels.nearestCode]] argmin (round-6
    * expanded L2 asc, code asc — the pinned tie-break). Map-side only.
    *
    * The kernel replaces the earlier `array_min(transform(...))` form:
    * Catalyst evaluates higher-order-function lambdas INTERPRETED per
    * entry with a struct allocation per candidate, which at m=32/k=64
    * was the measured bottleneck of codebook training (~20 s of a 24 s
    * pass at sf0.1). The kernel runs the identical IEEE sequence,
    * HALF_UP rounding and tie-break inside whole-stage codegen —
    * codes, distances, the x12 oracle and the x34 portable-training
    * replay are bit-unchanged (spec-held kernel == HOF form). The
    * flatten relies on codes being CONTIGUOUS 0..k-1 per subspace
    * ([[initCodebook]] assigns them; [[train]]'s coalesce preserves
    * the key set), so flat index == code. */
  def assignCodes(sv: DataFrame, codebook: DataFrame): DataFrame = {
    val packed = codebook.groupBy(col("sub"))
      .agg(flatten(transform(
          sort_array(collect_list(struct(col("code"), col("cv")))),
          p => p.getField("cv").cast("array<double>"))).as("_g_flat"),
        count(lit(1)).cast("int").as("_g_k"))
    sv.join(broadcast(packed), Seq("sub"))
      .withColumn("best", vecNearestCode(
        col("sv"), col("_g_flat"), col("_g_k")))
      .select(col("pq_id"), col("sub"), col("sv"),
        element_at(col("best"), 2).cast("int").as("code"),
        element_at(col("best"), 1).as("d"))
  }

  /** Lloyd's k-means over all subspaces at once (sub is a group key, so
    * one corpus pass per iteration trains all M codebooks). Empty codes
    * keep their previous centroid — no silent K shrinkage. The codebook is
    * M×K×(dim/M) doubles — parameter-bounded — so every round materializes
    * it driver-local ([[ScaleUtils.materializeLocal]]): one corpus pass
    * per iteration, constant plan depth, and a driver-local return that
    * needs no persist (nothing left in the session CacheManager). */
  def train(emb0: DataFrame, idCol: String, vecCol: String, m: Int = M,
      k: Int = K, iters: Int = 3, portable: Boolean = false): DataFrame = {
    // iterated map-side passes need input-side parallelism
    ScaleUtils.withSpreadPinned(emb0)(
      trainOn(_, idCol, vecCol, m, k, iters, portable))
  }

  private def trainOn(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, portable: Boolean): DataFrame = {
    // portable = oracle-replayable codebooks: the assignment argmin
    // already decides on round-6 distances ([[l2sq]]), so quantizing
    // the UPDATE too (codewords store the exact integer micro-mean,
    // [[graft.functions.MicroMeanAgg]]) makes the whole iterated
    // training bit-equal on any engine BY CONSTRUCTION — the
    // [[IvfAnn.trainCentroids]] portable convention; recall is
    // unaffected (the quantum is noise next to quantization error,
    // spec-held)
    val sv = subvectors(emb, idCol, vecCol, m)
    var cb = ScaleUtils.materializeLocal(initCodebook(sv, k))
    for (_ <- 1 to iters) {
      // update = per-(sub, code) subvector mean — one buffer per
      // codeword, map-side combine, replacing the posexplode d× row
      // amplification ([[IvfAnn.trainCentroids]] has the full
      // rationale). Portable mode runs the EXACT integer kernel
      // [[graft.functions.MicroMeanAgg]] (order-independent pico sums,
      // exact micro rounding — halfway-residue-proof on any engine);
      // non-portable keeps the raw sum/count division.
      val assigned = assignCodes(sv, cb)
      val updated =
        if (portable)
          assigned.groupBy(col("sub"), col("code"))
            .agg(graft.functions.MicroMeanAgg.vec_mean_micro(
              col("sv").cast("array<double>")).as("nv"))
            .select(col("sub"), col("code"), col("nv"))
        else assigned
          .groupBy(col("sub"), col("code"))
          .agg(graft.functions.VecSumAgg.vec_sum(
              col("sv").cast("array<double>")).as("_g_sums"),
            count(col("sv")).as("_g_n"))
          .select(col("sub"), col("code"),
            transform(col("_g_sums"), s => s / col("_g_n")).as("nv"))
      cb = ScaleUtils.materializeLocal(
        cb.join(updated, Seq("sub", "code"), "left")
          .select(col("sub"), col("code"), coalesce(col("nv"), col("cv")).as("cv")))
    }
    cb
  }

  /** (pq_id, codes): the M-byte PQ code word per vector — ONE shuffle on
    * the id to pivot the per-subspace codes into an array. */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int = M): DataFrame =
    assignCodes(subvectors(emb, idCol, vecCol, m), codebook)
      .groupBy(col("pq_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code")))),
        p => p.getField("code")).as("codes"))

  /** ADC top-k: score every encoded vector against a driver-held query
    * via the asymmetric-distance look-up table. Only the M×K codebook is
    * ever collected (constant size — the EmbeddingOps driver-held-query
    * convention); scoring is M element_at + adds per vector inside one
    * scan, and the top-k plans as TakeOrderedAndProject. */
  def adcTopK(codes: DataFrame, codebook: DataFrame, query: Seq[Double],
      topK: Int = 10, m: Int = M, k: Int = K): DataFrame =
    adcScores(codes, collectCodebook(codebook), query, m, k)
      .orderBy(col("adc_dist").asc, col("pq_id").asc)
      .limit(topK)

  /** The M×K codebook pulled to the driver (constant size by
    * construction) — reused across ADC calls, e.g. one LUT per probed
    * IVF cell in [[IvfPq]]. */
  def collectCodebook(codebook: DataFrame): Map[(Int, Int), Array[Double]] =
    codebook.collect().map { r =>
      (r.getInt(0), r.getInt(1)) ->
        r.getSeq[Any](2).map {
          case f: Float => f.toDouble
          case d: Double => d
          case other => other.toString.toDouble
        }.toArray
    }.toMap

  /** (pq_id, adc_dist) for every code word — the un-limited ADC scan.
    * The query dimension must split evenly into the M subspaces and
    * match the codebook's subvector width — silently truncating either
    * would score against the wrong LUT entries. */
  def adcScores(codes: DataFrame, cents: Map[(Int, Int), Array[Double]],
      query: Seq[Double], m: Int = M, k: Int = K): DataFrame = {
    val lutCol = typedLit(lutFor(cents, query, m, k))
    codes.select(col("pq_id"),
      round(aggregate(
        transform(col("codes"), (c, i) => element_at(lutCol, i * k + c + 1)),
        lit(0.0), (acc, x) => acc + x), 6).as("adc_dist"))
  }

  /** The ADC look-up table for one query (residual): per (sub, code)
    * squared L2 between the query's subvector and the code centroid —
    * the driver-side half of [[adcScores]], shared with the multi-cell
    * form so both score with provably identical LUT values. */
  private def lutFor(cents: Map[(Int, Int), Array[Double]],
      query: Seq[Double], m: Int, k: Int): Seq[Double] = {
    require(query.length % m == 0,
      s"query dim ${query.length} must be divisible by m=$m")
    cents.values.headOption.foreach(cv => require(cv.length == query.length / m,
      s"query subvector width ${query.length / m} != codebook width ${cv.length}"))
    val w = query.length / m
    (0 until m * k).map { i =>
      val (sub, code) = (i / k, i % k)
      cents.get((sub, code)).fold(Double.MaxValue) { cv =>
        val q = query.slice(sub * w, sub * w + w)
        var s = 0.0
        var j = 0
        while (j < w) { val dfj = q(j) - cv(j); s += dfj * dfj; j += 1 }
        s
      }
    }
  }

  /** One-scan ADC scoring over MANY probed cells (guide §2.4 — remove
    * per-cell subplans outright): each probed cell's residual query gets
    * its [[lutFor]] table, all tables ride as ONE map<cell, lut> literal,
    * and each row looks up its own cell's LUT. The row-level arithmetic
    * (element_at chain in sub order, left-to-right aggregate, round 6)
    * and the LUT values are exactly [[adcScores]]'s, so the output rows
    * are bit-equal to unioning one adcScores per cell — but the plan
    * carries ONE partition-pruned scan (PartitionFilters: cell IN (...))
    * instead of nProbe scan+project subplans. */
  def adcScoresCells(codes: DataFrame, cents: Map[(Int, Int), Array[Double]],
      queriesByCell: Map[Long, Seq[Double]], m: Int = M,
      k: Int = K): DataFrame = {
    require(queriesByCell.nonEmpty, "no probed cells")
    val luts: Map[Long, Seq[Double]] =
      queriesByCell.map { case (c, q) => c -> lutFor(cents, q, m, k) }
    val lutCol = element_at(typedLit(luts), col("cell").cast("long"))
    codes.filter(col("cell").isin(queriesByCell.keys.toSeq: _*))
      .select(col("pq_id"),
        round(aggregate(
          transform(col("codes"), (c, i) => element_at(lutCol, i * k + c + 1)),
          lit(0.0), (acc, x) => acc + x), 6).as("adc_dist"))
  }

  /** Gate query: PQ-encode the embeddings table with the untrained
    * first-K codebook (M=4 × K=16 over dim 64). Codes come out as a
    * comma-joined string; the per-vector quantization error is the
    * sub-ordered left-to-right sum of the per-subspace distances (NOT a
    * float sum() agg, whose partial-merge order is partition-dependent). */
  def x12PqEncode(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
    val sv = subvectors(emb, "vec_id", "v", M)
    assignCodes(sv, initCodebook(sv, K))
      .groupBy(col("pq_id"))
      .agg(
        concat_ws(",", transform(
          sort_array(collect_list(struct(col("sub"), col("code")))),
          p => p.getField("code").cast("string"))).as("codes"),
        round(aggregate(
          transform(sort_array(collect_list(struct(col("sub"), col("d")))),
            p => p.getField("d")),
          lit(0.0), (acc, x) => acc + x), 6).as("qerr"))
      .select(col("pq_id").as("vec_id"), col("codes"), col("qerr"))
      .orderBy("vec_id")
  }
}
