package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** IVF-PQ — the composed billion-scale ANN index (Jégou et al., TPAMI
  * 2011 §V, the Faiss `IVFx,PQy` architecture): a coarse inverted-file
  * quantizer routes each vector to a cell, and product quantization
  * encodes the RESIDUAL v − centroid(cell). Residuals have far less
  * variance than raw vectors, so the same M×K code budget quantizes them
  * much more tightly, and a query only scans the NProbe nearest cells.
  *
  * Shape (the 100 TB design):
  *  - the index build reuses [[IvfAnn]]'s broadcast-argmax cell
  *    assignment and [[ProductQuantizer]]'s one-pass-per-iteration
  *    subspace k-means: the corpus never shuffles except the single
  *    per-id code pivot in encode.
  *  - `codes` is (id, cell, M bytes) — at serving time this is the ONLY
  *    relation read; partitioning it by `cell` makes a probe a partition-
  *    pruned scan.
  *  - a query costs: coarse centroid ranking on the driver (nCells rows,
  *    constant), one ADC look-up table per probed cell (the residual
  *    q − centroid differs per cell — Jégou §V-A), then per-cell scans
  *    unioned into one TakeOrdered. No join touches the float corpus.
  */
object IvfPq {

  /** Commit marker a batch append writes LAST — [[loadIndex]] serves
    * batch directories carrying EITHER this file OR the job committer's
    * `_SUCCESS` (both are written only once the batch's data is
    * complete, so a torn write carries neither and stays invisible).
    * The explicit marker exists because `_SUCCESS` emission is disabled
    * on some deployments
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`) and the
    * commit contract must not DEPEND on that tunable; accepting
    * `_SUCCESS` as well grandfathers batches written before the marker
    * existed — dropping them would silently lose (and, at the next
    * compaction, permanently fold away) their vectors. In default
    * deployments a batch therefore becomes visible at parquet job
    * commit, marginally before the marker lands — both points are
    * after the data is complete, so the visibility contract holds
    * either way. */
  private val CommitMarker = "_GRAFT_COMMIT"

  /** The built index: `cents` (cid, cv) coarse centroids, `codebook`
    * (sub, code, cv) shared residual codebooks — both driver-local after
    * [[build]] — and `codes` (pq_id, cell, codes), the compressed serving
    * relation. `build` persists `codes` and the residual frame it is
    * derived from; call [[release]] when done with an in-session index
    * (an index written with [[writeIndex]] and re-loaded has nothing
    * persisted — release is then a no-op). */
  final case class IvfPqIndex(cents: DataFrame, codebook: DataFrame,
      codes: DataFrame, m: Int, k: Int,
      private val handles: Seq[DataFrame] = Nil) {
    /** Unpersist every frame [[build]] cached — the deterministic end of
      * the index's in-session lifetime (the `featuresWithCuts` pattern). */
    def release(blocking: Boolean = false): Unit =
      handles.foreach(_.unpersist(blocking))
  }

  /** Default codebook-training bound (262144 vectors): past it, Lloyd's
    * iterations train on a content-hash-deterministic sample and only
    * the single encode pass reads the full corpus — the standard
    * large-scale practice (Faiss trains coarse+PQ codebooks on a
    * bounded sample; Jégou et al. 2011 §V uses learning sets orders of
    * magnitude below corpus size). Every gate corpus sits far below
    * this bound, so gates train on their full corpus — their oracles
    * and hashes are sampling-invariant by construction; the
    * x36_sample_trained gate pins the sampling rule itself
    * cross-engine at a deliberately tiny cap. */
  val DefaultMaxTrainVectors: Long = 1L << 18

  /** Modulus of the training-sample hash rule. */
  val TrainSampleModulus: Long = 1000000L

  /** Rate R of the training-sample rule: a vector trains iff
    * `md5_prefix28(vec_id) % 10^6 < R` with R = floor(10^6·cap/n) —
    * the d9 stratified-sample convention (content-hash-deterministic,
    * no sort, no driver round-trip, one-line DuckDB mirror:
    * `('0x' || substr(md5(vec_id::VARCHAR), 1, 7))::BIGINT % 1000000`).
    * Expected sample size ≈ cap (hash-uniform); never below 1 row of
    * rate. */
  def trainSampleRate(n: Long, cap: Long): Long =
    math.max(1L, (BigInt(TrainSampleModulus) * cap / n).toLong)

  /** Build the index over any (id, vector) frame. The two trainer outputs
    * (coarse centroids, residual codebook) come back driver-local; only
    * the corpus-sized frames consumed more than once — the residuals
    * (codebook training + encode + cell join) and `codes` (read once per
    * probed cell, forever) — are persisted, and the returned index's
    * `release()` unpersists both deterministically.
    *
    * `maxTrainVectors` bounds what the ITERATED trainers see (see
    * [[DefaultMaxTrainVectors]]): above it, coarse and PQ training run
    * on the hash-rate sample ([[trainSampleRate]]) while cell
    * assignment, residuals and the encode still cover every vector —
    * recall moves only through codebook quality (PLANS records the
    * measured recall-vs-cap curve; at the ladder rungs the sampled
    * codebooks hold the spec floors). `maxTrainVectors <= 0` disables
    * sampling (train on everything, the pre-r14 behavior); builds
    * where either stage is untrained (iters = 0) also never sample —
    * their first-k-by-id donors must come from the full corpus. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = IvfAnn.K, m: Int = ProductQuantizer.M,
      k: Int = ProductQuantizer.K, coarseIters: Int = 3,
      pqIters: Int = 3, portable: Boolean = false,
      maxTrainVectors: Long = DefaultMaxTrainVectors,
      seedSpread: Boolean = false): IvfPqIndex = {
    graft.functions.VectorExprs.register(df.sparkSession)
    // Build-scoped execution tuning (graft.SizePolicy, measured in the
    // conversion and here): training runs coarseIters + pqIters
    // SEQUENTIAL update jobs whose aggregation outputs are
    // parameter-bounded (k·d doubles), so at small corpus sizes the
    // per-iteration cost is pure stage scheduling — AQE's per-query-stage
    // materialization plus a full-width shuffle of near-empty
    // partitions, paid ~6 times over. The policy's session clone sizes
    // the shuffles to the input and turns AQE off WITHOUT mutating the
    // caller's session; past the threshold the defaults rule — a 100 TB
    // build keeps AQE and the full shuffle width. Decisions are
    // unchanged: partition count only regroups partial sums, which the
    // portable round-6 quantization absorbs (VecSumAgg doc; x34's oracle
    // re-verified hash-identical at several widths).
    val tuned = {
      val bytes = try
        org.apache.spark.sql.graft.SessionOps.estimatedBytes(df)
          .min(Long.MaxValue).toLong
      catch { case scala.util.control.NonFatal(_) => -1L }
      val s = graft.SizePolicy.sessionFor("IvfPq.build", df.sparkSession,
        bytes)
      if (s eq df.sparkSession) df
      else org.apache.spark.sql.graft.SessionOps.rebind(df, s)
    }
    val embNarrow = tuned.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    // Training is ~6 iterated MAP-SIDE passes (cell/code assignment +
    // partial sums) that inherit the INPUT partitioning: a mid-size
    // corpus in one split would run every kernel pass serially however
    // many cores sit idle (measured: 64k vectors in 1-2 natural splits
    // = 6.6 s/assignment pass; spread to 32 = 1.1 s — PLANS.md "Trainer
    // input-parallelism defect").
    // [[graft.operators.ScaleUtils.spreadForCompute]] has the gating
    // rationale (tiny and corpus-scale inputs untouched);
    // decisions are unchanged — the spread only regroups partial sums,
    // and the portable update kernel's integer sums are exactly
    // order-independent (MicroMeanAgg; x34/x15/x12 oracles re-verified). The lazy spread is PINNED for
    // the whole build (dim probe, coarse loop, residuals) and released
    // once the persisted residuals take over as the working set.
    val emb = {
      val s = graft.operators.ScaleUtils.spreadForCompute(embNarrow)
      if (s ne embNarrow)
        s.persist(StorageLevel.MEMORY_AND_DISK)
      else s
    }
    // probe ONE row's dim on the PRE-spread frame: above the lazy
    // repartition, limit(1) cannot push past the shuffle (no
    // LimitPushDown case for Repartition) and would materialize the
    // full map stage to read one vector
    embNarrow.select(size(col("v")).as("d")).limit(1).collect().foreach { r =>
      require(r.getInt(0) % m == 0,
        s"embedding dim ${r.getInt(0)} must be divisible by m=$m — " +
          "trailing dims would be silently dropped")
    }
    // bounded training sample (r14, the Faiss convention): the hash
    // rule is content-deterministic and engine-portable, so a sampled
    // PORTABLE build stays oracle-replayable — the sample membership
    // itself is oracle-stated (x36 pins it). The count materializes the
    // pinned spread, work the first trainer pass would have paid
    // anyway; the filter preserves emb's deterministic partitioning.
    // Sampling only when BOTH stages iterate: a stage with iters = 0
    // (the x7/x12/x15 untrained convention) takes its donors as
    // "first nCells / first k by vec_id", and a hash sample would
    // silently change WHICH vectors donate past the cap — diverging
    // from the full-corpus donor replay the x15 oracle states. A
    // fully untrained build has no trainer loop to bound anyway, and
    // no caller mixes a trained stage with an untrained one.
    val trainFilter: Option[org.apache.spark.sql.Column] =
      if (maxTrainVectors <= 0 || coarseIters <= 0 || pqIters <= 0) None
      else {
        val n = emb.count()
        if (n <= maxTrainVectors) None
        else {
          // register on the frame's OWN session: build may be running
          // under the build-scoped clone, whose function registry was
          // copied at clone time and does not see caller-side registers
          graft.functions.Md5Prefix28Expr.register(emb.sparkSession)
          val r = trainSampleRate(n, maxTrainVectors)
          Some(pmod(call_function("md5_prefix28",
              col("vec_id").cast("string")),
            lit(TrainSampleModulus)) < lit(r))
        }
      }
    // the sample is persisted in its own right: the coarse loop reads
    // it coarseIters+1 times, and re-filtering the corpus-scale cache
    // every pass would add a full cache scan per iteration. Sample
    // size ≈ maxTrainVectors vectors — memory-trivial next to emb.
    val trainSet = trainFilter.fold(emb) { f =>
      val t = emb.filter(f).persist(StorageLevel.MEMORY_AND_DISK)
      t.count(): Unit
      t
    }
    // portable: both trainers quantize every decision to 6 decimals —
    // assignments on round-6 similarity, updates through the EXACT
    // integer micro-mean kernel ([[IvfAnn.trainCentroids]] /
    // [[graft.functions.MicroMeanAgg]] docs) — so the ENTIRE trained
    // index is oracle-replayable — the x34 gate's contract
    val cents = IvfAnn.trainCentroids(trainSet, nCells, coarseIters,
      portable, seedSpread)
    val residuals0 = IvfAnn.assignCells(emb, cents, portable)
      .join(broadcast(cents.withColumnRenamed("cid", "cell")), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("r"))
    // Residual caching, two regimes (the r14 respersist A/B):
    //  - FULL training (trainFilter empty — every gate corpus): the
    //    pqIters+1 iterated PQ passes re-read the whole residual
    //    relation, so persist it once, EAGERLY, after releasing the
    //    spread input (the r12/r13 single-copy shape: eager count so
    //    the pinned spread goes BEFORE the PQ loop — two corpus-scale
    //    pins at once was the 16.4M-rung spill churn).
    //  - SAMPLED training: the full residuals are consumed only by
    //    CHEAP map-side lineage — the PQ sample materialization (the
    //    vec_id hash filter pushes below the assign kernel, so the
    //    kernel runs on sample rows only), the encode pass and the
    //    codes cell join. Persisting ~8 B·d per vector to serve three
    //    streaming passes LOSES at scale: measured 258 s persisted vs
    //    57 s recomputed at 8.2M vectors (respersist; the 33.5 GB
    //    cache write at 65.5M was the 235 s residual phase of the
    //    fifth-octave ladder). Recompute is decision-identical —
    //    deterministic map-side kernels over the same source splits.
    val persistResiduals = trainFilter.isEmpty
    val residuals =
      if (persistResiduals) residuals0.persist(StorageLevel.MEMORY_AND_DISK)
      else residuals0
    if (persistResiduals) {
      residuals.count(): Unit
      // full mode releases the pinned spread input HERE, before the
      // PQ loop — the r13 single-copy shape (never two corpus-scale
      // pins at once)
      if (emb ne embNarrow) emb.unpersist(): Unit
    }
    // PQ trains on the SAMPLE's residuals; the encode below still
    // covers every vector. In sampled mode the sample's residuals are
    // computed FROM THE PINNED SAMPLE itself, not by filtering the
    // corpus-scale relation: assignCells is row-wise, so
    // assignCells(emb).filter(p) ≡ assignCells(emb.filter(p)) — same
    // rows, same cells — and the sample-sized computation reads the
    // coarse loop's cached 262k vectors instead of paying one more
    // full corpus scan (the measured 64 s vs 13 s pqtrain delta at
    // 65.5M in respersist). The filtered frame is not caller-pinned,
    // so ProductQuantizer.train persists its own sample-sized copy
    // for the pqIters+1 passes; trainSet stays pinned until train
    // returns, then releases.
    val trainResiduals = trainFilter.fold(residuals) { _ =>
      IvfAnn.assignCells(trainSet, cents, portable)
        .join(broadcast(cents.withColumnRenamed("cid", "cell")),
          Seq("cell"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("cv"), (x, c) => x - c).as("r"))
    }
    val codebook = ProductQuantizer
      .train(trainResiduals, "vec_id", "r", m, k, pqIters, portable)
    if (trainSet ne emb) trainSet.unpersist(): Unit
    val codes = ProductQuantizer.encode(residuals, "vec_id", "r", codebook, m)
      .join(residuals.select(col("vec_id").as("pq_id"), col("cell")),
        Seq("pq_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // sampled mode holds the (mid-size, only-if-spread) input pin
    // through the encode instead of a corpus-scale residual cache:
    // materialize codes eagerly, then release. Full mode released it
    // above, before the PQ loop.
    if (!persistResiduals) {
      codes.count(): Unit
      if (emb ne embNarrow) emb.unpersist(): Unit
    }
    // the tuning is BUILD-scoped: rebind the index's outward frames to
    // the CALLER's session, so writeIndex and every post-build action
    // run under the caller's live conf (AQE state, shuffle width,
    // writer confs set AFTER build), not the clone's frozen snapshot.
    // The persisted frames keep hitting their cache entries — the
    // CacheManager is per-SharedState, keyed on the canonicalized
    // plan, which rebinding does not change.
    def back(f: DataFrame): DataFrame =
      if (tuned eq df) f
      else org.apache.spark.sql.graft.SessionOps.rebind(f, df.sparkSession)
    IvfPqIndex(back(cents), back(codebook), back(codes), m, k,
      handles = Seq(residuals, codes))
  }

  /** Cosine — the probe ranking must use the SAME metric
    * [[IvfAnn.assignCells]] used to route vectors into cells; ranking
    * probes by L2 against cosine-assigned cells can skip the very cell
    * holding the true neighbors when centroid norms differ. */
  private def cosineD(a: Seq[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Persist the index with `codes` hive-partitioned by cell — the
    * serving layout: a probe of NProbe cells becomes a partition-pruned
    * scan that never opens the other cells' files (the 100 TB claim in
    * the object scaladoc, made concrete; the spec asserts the
    * PartitionFilters in the probe plan). The PQ geometry (m, k) rides
    * along so a load cannot decode codes against the wrong LUT shape. */
  def writeIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.cents.sparkSession
    import spark.implicits._
    // a build is a mutation: lease-guarded like every other writer
    // entry point ([[RetrievalOps.indexCorpus]] convention). For
    // compactTo's fresh dest the lease is on the NEW directory — no
    // interaction with the compaction's own lease on the served path.
    IndexLayout.withWriterLease(spark, path, "writeIndex") {
      // an in-place REBUILD over a served path must retract the previous
      // lifecycle first: a stale CURRENT would keep every loadIndex on
      // the retired generation (ignoring this rebuild entirely), and
      // stale appends/ batches would union the OLD corpus's vectors into
      // the fresh base. For a fresh dest (compactTo's generations/g<k>)
      // both are no-ops — and folded_max, written by compactTo before
      // this call, is untouched.
      IndexLayout.retract(spark, path)
      val ap = new org.apache.hadoop.fs.Path(s"$path/appends")
      ap.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(ap, true): Unit
      Seq((index.m, index.k)).toDF("m", "k")
        .write.mode("overwrite").parquet(s"$path/meta")
      index.cents.write.mode("overwrite").parquet(s"$path/cents")
      index.codebook.write.mode("overwrite").parquet(s"$path/codebook")
      index.codes.write.mode("overwrite")
        .partitionBy("cell").parquet(s"$path/codes")
    }
  }

  /** COMMITTED append batch directories under `root/appends` — those
    * carrying the [[CommitMarker]]; sorted for deterministic unions. */
  private def committedBatches(spark: org.apache.spark.sql.SparkSession,
      root: String): Seq[String] = {
    val appendsPath = new org.apache.hadoop.fs.Path(s"$root/appends")
    val fs = appendsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(appendsPath)) Nil
    else fs.listStatus(appendsPath).toSeq
      .filter(_.isDirectory).map(_.getPath)
      // _SUCCESS grandfathers batches written before the explicit
      // marker existed: the Hadoop job committer writes it only at
      // job commit (data complete), so it IS a commit marker when
      // present — without it, upgrading would silently drop (and the
      // next compaction permanently fold away) every pre-marker
      // appended vector. The explicit marker remains the primary gate
      // because deployments can disable _SUCCESS emission.
      .filter(d =>
        fs.exists(new org.apache.hadoop.fs.Path(d, CommitMarker)) ||
        fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
      .map(_.toString).sorted
  }

  /** Load a persisted index; the geometry comes from the stored meta,
    * never from caller guesses. `cell` comes back as a hive partition
    * column; probes compare it with an equality literal, so the
    * inferred narrower integer type is harmless. A generationally
    * compacted index ([[compactInPlace]]) resolves through its CURRENT
    * pointer first — the caller's path never changes across
    * compactions. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex = {
    val root = IndexLayout.activeRoot(spark, path)
    val meta = spark.read.parquet(s"$root/meta").head()
    val codes = spark.read.parquet(s"$root/codes")
    // streaming appends live under appends/batch=<id>/cell=<c> (one
    // directory per committed micro-batch — see [[appendToIndex]]); the
    // batch partition column exists only for replay idempotence and is
    // dropped here. Probes prune on `cell` identically on both sides.
    // Only COMMITTED batch directories are served (carrying the
    // [[CommitMarker]] or the job committer's _SUCCESS — see the
    // marker's doc): a crash mid-append that is never replayed leaves a
    // half-written batch directory whose partial/torn files must stay
    // invisible to every probe, not crash or corrupt them. Each batch
    // reads with an EXPLICIT schema: a committed batch whose
    // micro-batch was empty leaves a file-less batch=<id> directory,
    // and schema inference over a file-less tree throws — explicitly it
    // is what it semantically is, zero appended vectors, so one empty
    // batch can never brick every subsequent load of the index
    val all = committedBatches(spark, root).foldLeft(codes) { (acc, dir) =>
      acc.unionByName(spark.read.schema(codes.schema).parquet(dir))
    }
    IvfPqIndex(
      spark.read.parquet(s"$root/cents"),
      spark.read.parquet(s"$root/codebook"),
      all,
      meta.getInt(0), meta.getInt(1))
  }

  /** Gate query (x15): the COMPOSED serving path end-to-end — build the
    * index with the deterministic untrained geometry (first-16 coarse
    * cells, first-16 residual codebook: coarseIters = pqIters = 0, the
    * x7/x12 convention), WRITE it cell-partitioned, LOAD it back, and
    * ADC-probe the vec 0 query over 2 of 4 cells — so the partition-
    * pruned read path, not just the in-memory build, is what the oracle
    * checks. 4 coarse cells, not 16: the untrained convention donates
    * first-k-by-id vectors to BOTH stages, so with nCells = k every
    * codebook donor would be its own centroid and quantize to an
    * all-zero (degenerate) codebook — 4 cells leave 12 of the 16
    * residual codes meaningful. Vectors are cast to DOUBLE up front so
    * an independent SQL engine replays every subtraction and inner
    * product on identical operands (the x12 rounding convention absorbs
    * summation-order noise). Output: (vec_id, adc_dist) top-10,
    * (dist asc, id asc). */
  /** One persisted index per (session, input snapshot) — the serving
    * lifecycle: build + write ONCE per corpus version, probe many times
    * (the snapshot-keyed convention of the shared shingle cuts). The
    * first call per snapshot exercises the full build → write path; a
    * re-run on unchanged input goes straight to the partition-pruned
    * load + probe, which is what a steady-state serving benchmark
    * should time. Keyed by file listing (name/len/mtime), so a changed
    * corpus rebuilds instead of serving a stale index. */
  private def snapshotIndexPath(s: org.apache.spark.sql.SparkSession,
      dir: String, emb: DataFrame): String =
    SnapshotCache.resolve(s, "x15", s"$dir/embeddings.parquet") { out =>
      val idx = build(emb, "vec_id", "v", nCells = 4,
        m = ProductQuantizer.M, k = ProductQuantizer.K,
        coarseIters = 0, pqIters = 0)
      try writeIndex(idx, out) finally idx.release()
    }

  def x15IvfPqTopK(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val emb = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val loaded = snapshotLocalIndex(s, dir, emb)
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Double](1)
    topK(loaded, q, topK = 10, nProbe = 2)
      .select(col("pq_id").as("vec_id"), col("adc_dist"))
  }

  /** The x15 snapshot index LOADED AND LOCALIZED once per (session,
    * corpus snapshot) — the serving residency a long-lived probe
    * process holds ([[localizeIndex]] doc): without the memo every
    * probe invocation re-reads meta/cents/codebook parquet and
    * re-collects the parameter-sized tables, a per-call driver-job
    * floor that measures the loader, not the probe. Keyed on the same
    * snapshot listing as the index path itself, so a changed corpus
    * reloads (and rebuilds) exactly as before. */
  private def snapshotLocalIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, emb: DataFrame): IvfPqIndex =
    SnapshotCache.memo(s, "x15_localidx", s"$dir/embeddings.parquet") {
      localizeIndex(loadIndex(s, snapshotIndexPath(s, dir, emb)))
    }

  /** ADC top-k for a driver-held query: rank cells on the driver (by
    * cosine, matching the assignment metric), build one residual
    * look-up table per probed cell, scan only those cells. */
  def topK(index: IvfPqIndex, query: Seq[Double], topK: Int = 10,
      nProbe: Int = IvfAnn.NProbe,
      excludeId: Option[Long] = None, portable: Boolean = false): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cents: Seq[(Long, Array[Double])] = index.cents.collect().map { r =>
      r.getLong(0) -> r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case other => other.toString.toDouble
      }.toArray
    }.toSeq
    require(cents.nonEmpty, "index has no centroids — built over an empty corpus?")
    cents.foreach { case (_, cv) =>
      require(cv.length == query.length,
        s"query dim ${query.length} != index dim ${cv.length}") }
    // portable: the probe-cell ranking quantizes like every other
    // portable decision (round-6 similarity, cid tie-break) so an
    // oracle replays WHICH cells are probed, not just how they score
    val probed = cents.map { case (cid, cv) =>
        val s = cosineD(query, cv)
        // HALF_UP — the same rounding Spark's round() applies, so the
        // driver-side decision matches the in-plan convention exactly
        (cid, cv, if (portable)
          BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble
        else s)
      }
      .sortBy { case (cid, _, s) => (-s, cid) }
      .take(nProbe)
    val cb = ProductQuantizer.collectCodebook(index.codebook)
    // one partition-pruned scan for ALL probed cells (guide §2.4): the
    // per-cell residual LUTs ride as one map literal instead of one
    // adcScores subplan per cell — at nProbe=8 that is 8 scan+project
    // subplans folded into 1, bit-equal rows by adcScoresCells' contract
    val resByCell: Map[Long, Seq[Double]] = probed.map { case (cid, cv, _) =>
      cid -> query.zip(cv).map { case (q, c) => q - c }
    }.toMap
    val scored = ProductQuantizer.adcScoresCells(
      index.codes, cb, resByCell, index.m, index.k)
    // excludeId (typically the query's own id) is filtered BEFORE the
    // limit, so the recall-sweep form still returns a full top-k
    excludeId.fold(scored)(i => scored.filter(col("pq_id") =!= i))
      .orderBy(col("adc_dist").asc, col("pq_id").asc)
      .limit(topK)
  }

  /** The frozen index with its PARAMETER-SIZED reference tables
    * (centroids, codebook) pinned to driver-local in-memory relations —
    * what a long-lived streaming encoder must hold: a disk-backed
    * index's frames re-read their files per micro-batch, and once
    * in-place compaction retires the generation those files live in
    * (two flips of grace), every later micro-batch would crash. `codes`
    * stays as-is — the encode path never reads it. */
  def localizeIndex(index: IvfPqIndex): IvfPqIndex = {
    val s = index.cents.sparkSession
    def local(df: DataFrame): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    index.copy(cents = local(index.cents),
      codebook = local(index.codebook))
  }

  /** Map-side IVF-PQ ENCODE against a frozen index — the streaming
    * ingestion path ([[graft.streaming.DocStreams.encodeArrivals]]):
    * assign the coarse cell, subtract its centroid, and pick each
    * subspace's nearest code, all as per-row expressions over the
    * BROADCAST centroids/codebook. No aggregation, no state — legal in
    * a streaming plan and identical arithmetic to the batch
    * [[ProductQuantizer.encode]] (same argmax cell tie-break, same
    * rounded-l2sq argmin per subspace; the batch path's groupBy pivot is
    * replaced by a `transform(sequence(0, m-1), ...)` that never
    * shuffles). Output: (pq_id, cell, codes) — appendable to a
    * [[writeIndex]] layout's `codes` relation. */
  def encodeMapSide(vecs: DataFrame, idCol: String, vecCol: String,
      index: IvfPqIndex): DataFrame = {
    graft.functions.VectorExprs.register(vecs.sparkSession)
    val emb = vecs.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).as("v"))
    val dim = index.cents.select(size(col("cv"))).head().getInt(0)
    require(dim % index.m == 0,
      s"index dim $dim not divisible by m=${index.m}")
    val w = dim / index.m
    val resid = IvfAnn.assignCells(emb, index.cents)
      .join(broadcast(index.cents.withColumnRenamed("cid", "cell")),
        Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("r"))
    // the whole M×K codebook packed into ONE static row (array indexed
    // by sub) — constant size, broadcast; argmin over a collect_list is
    // order-independent because the (d, code) struct tie-break is total
    val packedAll = index.codebook.groupBy(col("sub"))
      .agg(collect_list(struct(col("code"), col("cv"))).as("cs"))
      .agg(transform(sort_array(collect_list(struct(col("sub"),
        col("cs")))), p => p.getField("cs")).as("cbs"))
    resid.crossJoin(broadcast(packedAll))
      .select(col("vec_id").as("pq_id"), col("cell"),
        transform(sequence(lit(0), lit(index.m - 1)), sub => {
          val sv = slice(col("r"), sub * w + 1, lit(w))
          array_min(transform(
            element_at(col("cbs"), (sub + 1).cast("int")),
            c => struct(ProductQuantizer.l2sq(sv, c.getField("cv"))
              .as("d"), c.getField("code").as("code"))))
            .getField("code")
        }).as("codes"))
  }

  /** Append newly-encoded vectors ([[encodeMapSide]] output: pq_id,
    * cell, codes) to a PERSISTED index's `codes` relation — the commit
    * step of continuous ingestion: an append-mode write into the same
    * cell-partitioned layout, so existing cells gain files and probes
    * see the new vectors on their next [[loadIndex]]. Safe under
    * concurrent probes of the old snapshot (parquet files are
    * immutable; a reader lists files once per plan). The index carries
    * no corpus-global statistics by design, so append invalidates
    * nothing — the centroids/codebook stay frozen, which is the
    * standard serving trade (re-train + rebuild only when residual
    * drift degrades recall, measured by the x25 sweep).
    *
    * `batchId` makes the commit IDEMPOTENT for at-least-once callers
    * (foreachBatch replays a micro-batch after a mid-write failure):
    * batch `b`'s rows land in their own `appends/batch=b` directory
    * written with mode=overwrite, so a replay REPLACES the partial
    * write instead of appending duplicate (pq_id, cell, codes) rows —
    * probes never see a doubled id. [[loadIndex]] unions these in.
    * `batchId = None` is the plain batch-append path (direct write into
    * `codes/`) for one-shot bulk loads the caller does not retry. */
  def appendToIndex(encoded: DataFrame, path: String,
      batchId: Option[Long] = None,
      streamId: Option[String] = None): Unit = {
    val spark = encoded.sparkSession
    // single-writer contract ENFORCED: the mutation runs under the
    // path's WRITER lease (IndexLayout.withWriterLease) — a manual
    // append racing the owning stream fails loudly, never interleaves
    IndexLayout.withWriterLease(spark, path, "appendToIndex") {
      // one index path, one streaming lineage (IndexLayout.checkStreamId)
      IndexLayout.checkStreamId(spark, path, streamId, "appendToIndex")
      val root = IndexLayout.activeRoot(spark, path)
      // at-least-once across COMPACTION: the one genuine replay of a
      // folded batch (id == the folded mark) no-ops; an id BELOW the
      // mark is a different stream's and throws — silently dropping it
      // would lose real data (IndexLayout.replayGuard doc)
      if (!IndexLayout.replayGuard(spark, root, batchId,
          "appendToIndex")) {
        val m = spark.read.parquet(s"$root/meta").head().getInt(0)
        // geometry check rides INSIDE the single write pass (raise_error
        // on the first mismatched row) — a separate validation scan
        // would evaluate the whole encode twice. A STREAMING frame
        // cannot drive DataFrameWriter — commit micro-batches through
        // [[graft.streaming.DocStreams.appendArrivals]] (foreachBatch).
        val checked = encoded.select(col("pq_id"),
          when(size(col("codes")) === m, col("codes"))
            .otherwise(raise_error(concat(
              lit(s"appendToIndex: codes length != index m=$m (got "),
              size(col("codes")).cast("string"),
              lit(") — encoded against a different index geometry?"))))
            .as("codes"),
          col("cell"))
        batchId match {
          case Some(b) =>
            // static overwrite truncates exactly this batch's directory
            // — the idempotence unit — leaving other batches' commits
            // intact; a replay therefore retracts BOTH accepted markers
            // up front ([[committedBatches]] also grandfathers
            // `_SUCCESS`): left standing until the overwrite job's own
            // directory delete, a concurrent loadIndex could list the
            // batch as committed and scan it mid-rewrite
            val dir = s"$root/appends/batch=$b"
            val mk = new org.apache.hadoop.fs.Path(dir, CommitMarker)
            val fs = mk.getFileSystem(spark.sessionState.newHadoopConf())
            fs.delete(mk, false): Unit
            fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"),
              false): Unit
            checked.write.mode("overwrite").partitionBy("cell")
              .parquet(dir)
            // marker LAST: the batch becomes visible to loadIndex only
            // once every file of the overwrite landed
            fs.create(mk, true).close()
          case None =>
            checked.write.mode("append").partitionBy("cell")
              .parquet(s"$root/codes")
        }
      }
    }
  }

  /** Fold an index and all its appended micro-batch generations into
    * ONE fresh single-generation index at `dest` — the vector twin of
    * [[graft.operators.RetrievalOps.compactTo]], keeping probe listings
    * flat under continuous [[appendToIndex]] ingestion. Geometry,
    * centroids and codebook copy frozen; `dest` is a NEW directory the
    * caller flips its serving path to only after this returns (a crash
    * mid-compaction leaves `path` untouched). */
  def compactTo(spark: org.apache.spark.sql.SparkSession, path: String,
      dest: String): Unit = {
    val root = IndexLayout.activeRoot(spark, path)
    require(new org.apache.hadoop.fs.Path(dest).toUri.getPath !=
      new org.apache.hadoop.fs.Path(path).toUri.getPath &&
      new org.apache.hadoop.fs.Path(dest).toUri.getPath !=
      new org.apache.hadoop.fs.Path(root).toUri.getPath,
      "compactTo: dest must be a different directory")
    // the replay guard carries forward: dest's folded mark covers every
    // batchId-keyed generation folded here plus anything folded before
    IndexLayout.writeFoldedMax(spark, dest,
      IndexLayout.foldedMarkFor(spark, root,
        committedBatches(spark, root)
          .map(d => new org.apache.hadoop.fs.Path(d).getName)))
    // loadIndex's codes already union every committed append generation
    writeIndex(loadIndex(spark, path), dest)
  }

  /** Fold the active generation and its committed appends into a FRESH
    * generation under `path/generations/` and atomically flip the
    * CURRENT pointer — the vector twin of
    * [[graft.operators.RetrievalOps.compactInPlace]] (same
    * [[IndexLayout]] mechanics, same single-writer contract; one
    * superseded generation of grace for in-flight readers — an
    * [[IvfPqIndex]] loaded before the PREVIOUS flip must be reloaded).
    * Returns the new active root. */
  def compactInPlace(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    IndexLayout.compactInPlace(spark, path,
      Seq("meta", "cents", "codebook", "codes", "appends"),
      compactTo(spark, _, _))

  /** Auto-compaction dial, mirroring
    * [[graft.operators.RetrievalOps.maybeCompact]]: fold when the
    * active generation carries ≥ `maxGenerations` committed append
    * batches (each adds a listing + a union branch to every load).
    * Returns whether a compaction ran. */
  def maybeCompact(spark: org.apache.spark.sql.SparkSession, path: String,
      maxGenerations: Int): Boolean =
    IndexLayout.maybeCompact(spark, path, maxGenerations,
      committedBatches(spark, _), () => compactInPlace(spark, path))

  /** The x15 probe at an arbitrary nprobe with the query vector
    * excluded — the ranking form the x25 accuracy-vs-cost sweep scores
    * against exact cosine ground truth. */
  def x15SearchAt(s: org.apache.spark.sql.SparkSession, dir: String,
      nProbe: Int): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val emb = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val loaded = snapshotLocalIndex(s, dir, emb)
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Double](1)
    topK(loaded, q, topK = 10, nProbe = nProbe, excludeId = Some(0L))
      .select(col("pq_id").as("vec_id"), col("adc_dist"))
  }

  /** Batch ADC top-k — one pass for a whole (qid, qvec) TABLE, the
    * query-workload serving path. [[topK]] builds its residual look-up
    * tables on the driver; here every (query, probed cell) residual is a
    * ROW and the scoring expression replays the identical left-to-right
    * arithmetic (zip_with square-diff per subspace, subspace sum in sub
    * order, round 6), so batch and single-query results agree exactly —
    * spec-held.
    *
    * Shape: Q × nCells cosine ranking against the driver-local centroid
    * table (row_number keeps nProbe per query — Q×nCells rows, tiny),
    * then the probe list BROADCASTS onto the cell-partitioned `codes`
    * relation: the compressed corpus is read once, never shuffled, and
    * each code word is scored only against the queries probing its cell
    * (total scored rows ≈ Q × N × nProbe/nCells). The M×K codebook
    * rides as a literal into codegen. Output: (qid, pq_id, adc_dist),
    * topK rows per query, (adc asc, pq_id asc). */
  def topKBatch(index: IvfPqIndex, queries: DataFrame, qIdCol: String,
      qVecCol: String, topK: Int = 10,
      nProbe: Int = IvfAnn.NProbe): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val s = queries.sparkSession
    graft.functions.VectorExprs.register(s)
    val cb = ProductQuantizer.collectCodebook(index.codebook)
    require(cb.nonEmpty, "index has an empty codebook")
    val (m, k) = (index.m, index.k)
    val w = cb.values.head.length
    val cbLit = typedLit((0 until m * k).map { i =>
      cb.getOrElse((i / k, i % k), Array.fill(w)(Double.MaxValue)).toSeq
    })
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("_g_sim").desc, col("cid").asc)
    val probes = queries
      .select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<double>").as("_g_qv"))
      .crossJoin(broadcast(index.cents
        .select(col("cid"), col("cv").cast("array<double>").as("_g_cv"))))
      .withColumn("_g_sim", call_function("vec_cosine", col("_g_qv"), col("_g_cv")))
      .withColumn("_g_rk", row_number().over(wq))
      .filter(col("_g_rk") <= nProbe)
      .select(col("qid"), col("cid").as("cell"),
        zip_with(col("_g_qv"), col("_g_cv"), (x, c) => x - c).as("_g_qr"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc_dist").asc, col("pq_id").asc)
    index.codes.join(broadcast(probes), Seq("cell"))
      .withColumn("_g_cb", cbLit)
      .withColumn("adc_dist", round(expr(
        s"aggregate(sequence(0, ${m - 1}), 0D, (acc, sub) -> acc + " +
          s"aggregate(zip_with(slice(_g_qr, sub * $w + 1, $w), " +
          s"element_at(_g_cb, sub * $k + element_at(codes, sub + 1) + 1), " +
          s"(x, y) -> (x - y) * (x - y)), 0D, (a, b) -> a + b))"), 6))
      .withColumn("_g_rk", row_number().over(wk))
      .filter(col("_g_rk") <= topK)
      .select(col("qid"), col("pq_id"), col("adc_dist"))
  }
}
