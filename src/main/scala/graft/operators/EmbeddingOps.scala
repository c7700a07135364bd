package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions._

/** DataFrame-generic embedding similarity API — the [[CorpusOps]] analogue
  * for vector columns: a library user points these at their own
  * `(id, Array[Float|Double])` frame with a DRIVER-HELD query vector (the
  * realistic serving shape — the query comes from outside the corpus, so it
  * enters the plan as a literal, not a joined row).
  *
  * The gate queries (x1/x5/x6/x7) bind the same plan shapes to the
  * testdata `embeddings` table with the query drawn from vec_id=0; the
  * specs assert both surfaces rank identically.
  *
  * Scale shapes: exact = map-side cosine + TakeOrdered (no global sort,
  * corpus never shuffles); ANN = sign-LSH bucket as a pre-computed literal
  * filter (the query's bucket is known driver-side, so the corpus is
  * FILTERED, not joined); IVF = broadcast-argmax cell assignment + literal
  * probe-cell filter. Cosines are returned at full precision (the gates
  * round only for oracle hashing).
  */
object EmbeddingOps {

  /** Normalize to the internal (vec_id LONG, v) shape. */
  private def vecs(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    df.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
  }

  private def qlit(query: Seq[Double]): Column = typedLit(query)

  private def dotD(a: Seq[Double], b: Array[Double]): Double =
    a.lazyZip(b).map(_ * _).sum

  /** Exact brute-force cosine top-k: (idCol, cosine). */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int = 10): DataFrame =
    vecs(df, idCol, vecCol)
      .select(col("vec_id").as(idCol),
        vecCosine(col("v"), qlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** Metadata-filtered exact top-k — the vector-DB "filtered search"
    * shape (search only rows matching a metadata predicate, e.g. a label
    * or tenant id). The predicate applies BEFORE scoring, so it reaches
    * the parquet scan as a pushed filter / partition prune (spec-held):
    * at 100 TB a selective filter turns the scan itself into the ANN
    * accelerator, and TakeOrdered keeps the result without a global
    * sort. `predicate` is any Column over the input frame's columns.
    * Scores round to 6 decimals and order (rounded DESC, id ASC) — the
    * engine-portable ranking convention of the x1 gate, deterministic
    * across engines and summation orders. */
  def cosineTopKWhere(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], predicate: Column, k: Int = 10): DataFrame = {
    df.filter(predicate)
      .select(col(idCol).cast("long").as(idCol), col(vecCol).as("v"))
      .select(col(idCol), round(vecCosine(col("v"), qlit(query)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Sign-LSH ANN top-k: the query's bucket is computed driver-side from
    * the same baked hyperplanes the corpus uses, so candidates are a
    * FILTER on the bucket column — no join, no shuffle; then exact cosine
    * on the survivors. Recall/latency trade via `planes` (more planes →
    * smaller buckets). */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int = 10, planes: Int = 8): DataFrame = {
    // the hyperplanes are EmbDim-sized; a shorter/longer query would
    // silently project against a truncated plane (driver side) while the
    // corpus side nulls out — reject loudly instead
    require(query.size == SimilarityQueries.EmbDim,
      s"query must have ${SimilarityQueries.EmbDim} dims, got ${query.size}")
    val qBucket = (0 until planes).map { p =>
      if (dotD(query, SimilarityQueries.planeSigns(p)) > 0) 1L << p else 0L
    }.sum
    vecs(df, idCol, vecCol)
      .withColumn("_g_bucket", SimilarityQueries.lshBucket(planes))
      .filter(col("_g_bucket") === lit(qBucket))
      .select(col("vec_id").as(idCol),
        vecCosine(col("v"), qlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF ANN top-k: k-means centroids trained on the corpus
    * ([[IvfAnn.trainCentroids]], pure DataFrame Lloyd's), corpus assigned
    * to cells map-side (broadcast argmax — the corpus never shuffles),
    * query probed against the `nprobe` nearest cells. The centroid table
    * is tiny by construction, so ranking the query's cells driver-side is
    * the broadcast-side of the same decision Spark makes for small joins. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int = 10, cells: Int = IvfAnn.K,
      nprobe: Int = IvfAnn.NProbe, iters: Int = 3): DataFrame = {
    // >= 1 Lloyd's round also guarantees the centroid vectors are DOUBLE
    // arrays (the update averages promote float inputs), which the
    // driver-side cell ranking below reads as such
    require(iters >= 1, s"ivfTopK needs at least one k-means round, got $iters")
    val emb = vecs(df, idCol, vecCol)
    // trainer output is driver-local — the collect below reads in-memory
    // rows and the assignCells broadcast ships them; nothing persisted
    val cents = IvfAnn.trainCentroids(emb, cells, iters)
    val qCells = cents.collect()
      .map { r =>
        val cv = r.getSeq[Double](1)
        require(cv.size == query.size,
          s"query has ${query.size} dims but the corpus has ${cv.size}")
        val sim = dotD(cv, query.toArray) /
          (math.sqrt(cv.map(x => x * x).sum) *
            math.sqrt(query.map(x => x * x).sum))
        (r.getLong(0), sim)
      }
      .sortBy { case (cid, sim) => (-sim, cid) }
      .take(nprobe).map(_._1).toIndexedSeq
    IvfAnn.assignCells(emb, cents)
      .filter(col("cell").isin(qCells: _*))
      .select(col("vec_id").as(idCol),
        vecCosine(col("v"), qlit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Normalize a query TABLE to (qid LONG, qv). */
  private def qvecs(queries: DataFrame, qIdCol: String,
      qVecCol: String): DataFrame = {
    queries.select(col(qIdCol).cast("long").as("qid"), col(qVecCol).as("qv"))
  }

  private def topKPerQuery(scored: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
        col(idCol), col("cosine"))
  }

  /** Batch exact top-k for a QUERY TABLE — the serving shape when
    * queries arrive in batches: one (query_id, rank, idCol, cosine) row
    * per neighbor. The query batch broadcasts (it is small next to the
    * corpus), scoring is map-side, and the rank-window's `rank <= k`
    * filter plans as a partial WindowGroupLimit BELOW the qid exchange —
    * the shuffle carries at most k rows per (query, partition), never
    * the Q×N scored relation. */
  def cosineTopKBatch(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int = 10): DataFrame = {
    // scores round to 6 BEFORE ranking (the x1/x16 portable ranking
    // convention): rank order is then engine- and summation-order-
    // deterministic, which is what lets the x28 gate hash-match
    val scored = vecs(df, idCol, vecCol)
      .crossJoin(broadcast(qvecs(queries, qIdCol, qVecCol)))
      .select(col("qid"), col("vec_id").as(idCol),
        round(vecCosine(col("v"), col("qv")), 6).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Batch IVF top-k: centroids train once on the corpus, every query
    * ranks its `nprobe` cells through the same broadcast centroid table
    * (a Q×cells relation — tiny), and the corpus joins the probe list on
    * `cell` so each query scans only its probed cells. Total scored rows
    * ≈ Q × N × nprobe/cells — the IVF saving, batched. */
  def ivfTopKBatch(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int = 10, cells: Int = IvfAnn.K, nprobe: Int = IvfAnn.NProbe,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"needs at least one k-means round, got $iters")
    val emb = vecs(df, idCol, vecCol)
    ivfTopKBatchWith(emb, idCol,
      IvfAnn.trainCentroids(emb, cells, iters), // driver-local
      qvecs(queries, qIdCol, qVecCol), k, nprobe)
  }

  /** The post-training body of [[ivfTopKBatch]] against a PROVIDED
    * centroid table (cid, cv) — also the x29 gate's entry with the
    * deterministic first-K centroids. Scores round to 6 before ranking
    * (the portable convention, as in [[cosineTopKBatch]]). */
  def ivfTopKBatchWith(emb: DataFrame, idCol: String, cents: DataFrame,
      qv: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("cid").asc)
    val probes = qv
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("cid"),
        vecCosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("qv"), col("cid").as("cell"))
    val scored = IvfAnn.assignCells(emb, cents)
      .join(broadcast(probes), Seq("cell"))
      .select(col("qid"), col("vec_id").as(idCol),
        round(vecCosine(col("v"), col("qv")), 6).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Cross-corpus VECTOR admission — the embedding analogue of the d27
    * text increment admit: the subset of `incoming` whose cosine
    * against EVERY existing vector stays below `threshold`. The
    * embedding itself is the signature, so the existing corpus needs
    * no auxiliary store: admission reads it as one (id, vector)
    * columnar scan (~4·d B/row). Decisions compare on
    * `round(cosine, 6)` — float32 inputs computed in double, rounded
    * where every engine agrees (the x6 oracle convention), so the
    * admit set is portable.
    *
    * Scale shape: the INCREMENT drives the probe — it broadcasts under
    * AQE (batch-bounded, the streaming/crawl shape) and the existing
    * corpus streams map-side through the cosine sweep, never shuffled.
    * Per-batch cost is |existing|·|batch| d-dim dots with the default
    * `planes = 0` (the EXACT sweep — the oracled x33 semantics).
    *
    * `planes > 0` is the documented escalation for corpora past
    * memory-bounded increments: both sides bucket by the same
    * deterministic sign-LSH ([[SimilarityQueries.lshBucket]] — the
    * x5/x14 machinery) and only CO-BUCKETED pairs sweep, so the
    * per-batch dot count divides by the occupied bucket count
    * (~2^planes under even occupancy; grow planes ~log2 with the
    * corpus to hold per-batch cost flat). The plan shape is unchanged:
    * the corpus is still never shuffled — the crossJoin becomes a
    * broadcast HASH join on the bucket key with the batch still the
    * build side, so each corpus row probes only its own bucket's
    * batch vectors instead of all of them.
    *
    * Recall semantics of the bucketed mode: a near pair can straddle
    * buckets, and a missed hit means a near-duplicate is ADMITTED —
    * bucketed admission only ever admits a superset of the exact
    * path's admits, never rejects a vector the exact path keeps
    * (spec-held). Per plane, a pair at cosine t collides with
    * probability p = 1 − arccos(t)/π, so single-bucket recall ≥
    * p^planes — at t = 0.9 and 8 planes ≥ 0.48; a duplicate at cosine
    * 1.0 (exact or positively scaled re-crawl, the dominant dedup
    * class) has IDENTICAL sign projections and is caught with recall
    * 1.0 at any `planes`. Degenerate (zero/NaN) vectors bucket
    * deterministically (NaN projections compare greatest, so every
    * sign bit sets) and still admit via the NaN → −2 cosine rule
    * below — bucketed and exact agree on them.
    *
    * `bands > 1` is the RECALL escalation for wide-angle thresholds
    * (the MinHash-banding shape): B independent bucketings over
    * disjoint slices of the hyperplane family, a pair is a candidate
    * when it co-buckets in ANY band — recall ≥ 1 − (1 − p^planes)^B,
    * e.g. t = 0.9, 8 planes: 0.48 at one band → 0.93 at four. Cost:
    * the corpus still scans ONCE (each row explodes map-side into its
    * B (band, bucket) keys — B× the hash probes, never B× the scan)
    * and duplicate cross-band hits collapse in the existing distinct.
    * `bands` is part of the same pick-once-per-path contract as
    * `planes`.
    *
    * Dimension note: the hyperplanes are [[SimilarityQueries.EmbDim]]-
    * sized. Vectors of any OTHER dimension project to NULL (the
    * vec_dot length guard), every sign bit stays 0, and all rows land
    * in one bucket — bucketed mode then degrades to the exact sweep
    * (never to wrong decisions, only to no speedup).
    *
    * `idCol` must be unique AND castable to LONG (the repo-wide id
    * contract, [[CorpusOps]] doc) — the hit set joins back on the
    * cast value, so a non-castable id would null out and dodge its
    * own rejection. */
  /** The bucketed-admission GROWTH POLICY as a first-class helper —
    * the `planes` to pick when OPENING A NEW admission path over a
    * corpus of `corpusRows`, so each sign-LSH bucket holds about
    * `targetBucketRows` vectors: a `planes`-bit bucketing splits the
    * corpus into ~2^planes buckets under even occupancy, so per-batch
    * sweep cost stays ~flat when planes grows with log2(corpus) —
    * planes = ceil(log2(corpusRows / targetBucketRows)), clamped to
    * [0, 62] (the bucket id is a Long sign bitmask). The measured
    * curve behind the default (PLANS.md r11/r12 vecadmitscale): at
    * target 2000, a 32k→512k corpus recommends 4→8 planes and the
    * per-batch admit time stays flat where the exact sweep grows
    * linearly.
    *
    * EXPLICITLY a NEW-PATH decision: `planes`/`bands` are
    * pick-once-per-path dials ([[admitVectors]] doc) — re-deriving
    * planes as a corpus grows would change the candidate sets a
    * resumed stream generates and break replay determinism, so
    * nothing auto-applies this on an existing path. Streams that
    * expect growth should pick planes for the corpus size they intend
    * to GROW INTO (buckets start emptier, cost starts lower). */
  def planesFor(corpusRows: Long, targetBucketRows: Long = 2000L): Int = {
    require(corpusRows >= 0, s"planesFor: corpusRows $corpusRows")
    require(targetBucketRows >= 1,
      s"planesFor: targetBucketRows $targetBucketRows")
    if (corpusRows <= targetBucketRows) 0 // exact sweep is already cheap
    else {
      // ceil(log2(ratio)) in exact integer math (no double rounding
      // at the boundaries): smallest p with 2^p * target >= corpus
      var p = 0
      var cover = targetBucketRows
      // cover <= 0 detects Long overflow of the shift: conceptual
      // cover is then >= 2^63 > any Long corpusRows — covered, stop
      // (without it, corpora near Long.MaxValue would spin to the
      // clamp and over-split by 2^10)
      while (cover > 0 && cover < corpusRows && p < 62) {
        cover = cover << 1; p += 1
      }
      p
    }
  }

  def admitVectors(existing: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      planes: Int = 0, bands: Int = 1): DataFrame = {
    require(bands >= 1, s"admitVectors: bands must be >= 1, got $bands")
    // explicit hints, not AQE: the INCREMENT is batch-bounded by this
    // operator's contract while `existing` is the corpus — left to
    // size estimates, Spark happily builds the nested-loop broadcast
    // from the corpus side (observed at gate scale), which at
    // production scale means broadcasting the 100 TB side.
    // nanvl: a zero (or NaN-poisoned) vector has NaN cosine against
    // everything, and Spark's NaN-greatest ordering makes NaN >= t
    // TRUE — one bad embedding in the corpus would silently reject
    // every future batch. NaN maps to -2 (below any threshold): a
    // degenerate vector is near NOTHING, the same convention as a
    // text document too short to shingle.
    val near = nanvl(round(vecCosine(col("_g_ev"), col("_g_iv")), 6),
      lit(-2.0)) >= threshold
    val hits = (if (planes <= 0) {
      // the corpus side arrives in however many splits the source gave
      // it — at gate/batch scale often ONE (a ~1 MB parquet is a single
      // split), which serializes the |corpus|×|batch| cosine sweep on
      // one core while the rest idle (measured: one 454 ms task = the
      // whole x33 gate's compute). spreadForCompute's default 4 MB
      // floor is calibrated for O(1)-per-row kernels; the EXACT path's
      // per-row work is multiplied by the broadcast batch's
      // cardinality, so the floor drops to 256 KB here. At corpus
      // scale the spread is a no-op by construction (enough natural
      // splits), so the corpus still never shuffles where that
      // matters; the bucketed paths below keep their cheap-per-row
      // no-shuffle shape untouched.
      val ex = ScaleUtils.spreadForCompute(
          vecs(existing, idCol, vecCol),
          minBytes = graft.SizePolicy.TextSpreadMinBytes)
        .select(col("v").as("_g_ev"))
      val in = vecs(incoming, idCol, vecCol)
        .select(col("vec_id").as("_g_iid"), col("v").as("_g_iv"))
      ex.crossJoin(broadcast(in)).filter(near)
    } else if (bands == 1) {
      // the bucket column computes map-side on each input (a literal
      // dot per plane); the equi-key turns the sweep into a hash
      // probe of the (still broadcast) batch's per-bucket groups
      val ex = vecs(existing, idCol, vecCol)
        .withColumn("_g_b", SimilarityQueries.lshBucket(planes))
        .select(col("_g_b"), col("v").as("_g_ev"))
      val in = vecs(incoming, idCol, vecCol)
        .withColumn("_g_b", SimilarityQueries.lshBucket(planes))
        .select(col("_g_b"), col("vec_id").as("_g_iid"),
          col("v").as("_g_iv"))
      ex.join(broadcast(in), Seq("_g_b")).filter(near)
    } else {
      // OR-ed bands: each row explodes map-side into its B
      // (band, bucket) keys — disjoint plane slices per band — and the
      // join key widens to (band, bucket); the corpus still scans once
      def banded(df: DataFrame): DataFrame = df.select(
        df.columns.map(col) :+ posexplode(array((0 until bands).map(b =>
          SimilarityQueries.lshBucket(planes, b * planes)): _*))
          .as(Seq("_g_band", "_g_b")): _*)
      val ex = banded(vecs(existing, idCol, vecCol))
        .select(col("_g_band"), col("_g_b"), col("v").as("_g_ev"))
      val in = banded(vecs(incoming, idCol, vecCol))
        .select(col("_g_band"), col("_g_b"),
          col("vec_id").as("_g_iid"), col("v").as("_g_iv"))
      ex.join(broadcast(in), Seq("_g_band", "_g_b")).filter(near)
    }).select(col("_g_iid")).distinct()
    incoming.join(broadcast(hits),
      col(idCol).cast("long") === col("_g_iid"), "left_anti")
  }

  /** Within-set vector collapse (min-id survivor per cosine-threshold
    * cluster) — the [[CorpusOps.collapseEnriched]] analogue for
    * embeddings, used by the streaming admit loop AFTER the
    * cross-corpus filter. Exact all-pairs (`planes = 0` puts
    * everything in one bucket), which is the right shape for its
    * micro-batch-sized inputs; pass `planes > 0` to bucket a larger
    * set, `bands > 1` to OR independent bucketings for wide-angle
    * recall ([[admitVectors]] doc). Same round-6 decision rule as
    * [[admitVectors]]. */
  def collapseVectors(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 0, bands: Int = 1,
      driverEdgeLimit: Int = SimilarityQueries.MaxDriverEdges): DataFrame = {
    // prefilter a hair BELOW the threshold (nearDupPairs compares the
    // unrounded cosine): anything that would round UP to the threshold
    // survives into the rounded >= decision inside clustersFromPairs.
    // nanvl as in [[admitVectors]]: a degenerate vector's NaN edges
    // would otherwise chain the WHOLE set into one cluster (NaN
    // compares greatest) and collapse everything to the min id
    val pairs = nearDupPairs(df, idCol, vecCol, threshold - 1e-6, planes,
        bands)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        nanvl(round(col("cosine"), 6), lit(-2.0)).as("est_jaccard"))
    val drop = SimilarityQueries.clustersFromPairs(df.sparkSession,
        pairs, driverEdgeLimit, threshold)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").cast("long").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs above a cosine threshold, candidates
    * from sign-LSH buckets (per-bucket self-join, never all-pairs):
    * (id_a, id_b, cosine). With the default single band a vector has
    * exactly one bucket, so a pair meets at most once; `bands > 1` ORs
    * independent bucketings over disjoint hyperplane slices for
    * wide-angle recall ([[admitVectors]] doc) — a pair can then meet
    * in several bands, and the duplicate candidate rows collapse in a
    * distinct BEFORE the cosine evaluates (each surviving pair is
    * scored once; the distinct is bounded by the candidate-pair count,
    * which the bucketing already bounds). */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 6, bands: Int = 1): DataFrame = {
    require(bands >= 1, s"nearDupPairs: bands must be >= 1, got $bands")
    val candidates = if (bands == 1) {
      val b = vecs(df, idCol, vecCol)
        .withColumn("_g_bucket", SimilarityQueries.lshBucket(planes))
      val l = b.select(col("_g_bucket"), col("vec_id").as("id_a"),
        col("v").as("_g_va"))
      val r = b.select(col("_g_bucket"), col("vec_id").as("id_b"),
        col("v").as("_g_vb"))
      l.join(r, Seq("_g_bucket"))
    } else {
      val b = vecs(df, idCol, vecCol).select(col("vec_id"), col("v"),
        posexplode(array((0 until bands).map(bd =>
          SimilarityQueries.lshBucket(planes, bd * planes)): _*))
          .as(Seq("_g_band", "_g_bucket")))
      val l = b.select(col("_g_band"), col("_g_bucket"),
        col("vec_id").as("id_a"), col("v").as("_g_va"))
      val r = b.select(col("_g_band"), col("_g_bucket"),
        col("vec_id").as("id_b"), col("v").as("_g_vb"))
      l.join(r, Seq("_g_band", "_g_bucket"))
        // a pair meeting in k bands must score ONCE: drop the band key
        // and dedupe before the cosine (vectors ride along — they are
        // functionally determined by the ids, so distinct is exact)
        .drop("_g_band").dropDuplicates("id_a", "id_b")
    }
    candidates
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        vecCosine(col("_g_va"), col("_g_vb")).as("cosine"))
      .filter(col("cosine") > threshold)
  }
}
