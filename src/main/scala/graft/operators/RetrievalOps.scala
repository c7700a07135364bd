package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical + hybrid retrieval and contrastive example mining — the serving
  * and training-data side of the similarity surface. The reference has no
  * retrieval operators (it is an OSM conversion engine); this family is
  * green-field per the LLM-pipeline mandate, built on public algorithms:
  * BM25 (Robertson & Spärck Jones probabilistic relevance, the Lucene
  * `k1`/`b` parameterization), reciprocal-rank fusion (Cormack, Clarke &
  * Büttcher, SIGIR 2009), maximal-marginal-relevance diversification
  * (Carbonell & Goldstein, SIGIR 1998) and DPR-style hard-negative mining.
  *
  * Scale design:
  *  - BM25 never builds an inverted index: the query's term bag is a
  *    driver-held literal, so the exploded token relation is FILTERED to
  *    query terms before its one shuffle — the shuffled relation is
  *    O(matching tokens), not O(corpus tokens). Doc length rides the
  *    explode (`max(dl)` under the same grouping), so no second join
  *    against a corpus-sized relation; N, avgdl AND per-term document
  *    frequencies all come from one map-side `array_contains` aggregation
  *    (a 1-row broadcast) — no second tokenize pass, no df shuffle.
  *  - Per-term contributions round to micro-units and sum as LONGs, so
  *    the score is independent of Spark's partial-agg summation order —
  *    the same exact-integer portability trick as the d23 classifier.
  *  - Fusion and mining operate on bounded frames (top-n candidates, a
  *    driver-held anchor batch): windows in this file partition by anchor
  *    or rank a LIMIT-n frame — never the bare corpus.
  *  - MMR is greedy-sequential by definition, so candidate generation is
  *    distributed (TakeOrdered top-n) and the O(n·k) greedy loop runs on
  *    the driver over the collected n vectors — the shape a real serving
  *    reranker uses. n and k are constants; the corpus never collects.
  */
object RetrievalOps {

  /** Gate-query BM25 parameters. Written as plain decimal literals in the
    * DuckDB oracle; `K1 + 1.0 == 2.2` and `1.0 - B == 0.25` hold exactly
    * in IEEE doubles, so both engines evaluate identical constants. */
  val K1 = 1.2
  val B = 0.75

  /** The per-(doc,term) micro-unit BM25 contribution shared by EVERY
    * scorer (aggregation, indexed, batch, frozen-column): EXACT integer
    * arithmetic at the default (k1, b) — no double is ever rounded, so
    * the score is reproducible cross-engine INCLUDING on the 6-decimal
    * halfway grid (ResidueFreeSpec REFUTED the r13 residue-free
    * hand-proof: e.g. N=80/S=2192/df=1/tf=1/dl=23 sits dead ON
    * 56726562.5 micro). Custom (k1, b) have no integer form — double
    * path, cross-engine-exact only OFF the grid. Micro LONGs keep the
    * final per-doc sum order-independent either way. */
  private def bm25Micro(tfC: org.apache.spark.sql.Column,
      dfC: org.apache.spark.sql.Column, dlC: org.apache.spark.sql.Column,
      nC: org.apache.spark.sql.Column, sumDlC: org.apache.spark.sql.Column,
      k1: Double, b: Double): org.apache.spark.sql.Column =
    if (k1 == K1 && b == B)
      graft.functions.ExactRound.bm25MicroContrib(tfC, dfC, dlC, nC, sumDlC)
    else
      round(((nC.cast("double") - dfC.cast("double") + lit(0.5)) /
        (dfC.cast("double") + lit(0.5)) *
        ((tfC.cast("double") * lit(k1 + 1.0)) /
          (tfC.cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (dlC.cast("double") /
              (sumDlC.cast("double") / nC.cast("double")))))))
        * lit(1000000.0), 0).cast("long")

  /** BM25-scored documents for a driver-held bag of query terms:
    * (idCol, bm25), one row per document matching ≥ 1 term. Rows of
    * `docs` must be unique per idCol (every caller's corpora are).
    *
    * idf uses the ratio form `(N - df + 0.5) / (df + 0.5)` (no log): like
    * d14's ratio idf, every op in the score is a correctly-rounded IEEE
    * primitive, so an independent engine reproduces it bit-for-bit —
    * monotonic in the classic log idf, identical ranking behavior.
    *
    * Scale shape: ONE tokenize pass over the corpus, ONE compact
    * exchange. The `term_tfs` codegen kernel produces
    * `[dl, tf_0…tf_k-1]` per doc in one pass (no token is ever
    * materialized as a row or array element) map-side in the scan
    * stage; the (id, vector) rows — k+2 longs per doc, not the text —
    * exchange once, keyed on id, and BOTH consumers read that shuffle
    * output (ReuseExchange): corpus stats (N, sum_dl via dl = tc[0],
    * per-term df via tf > 0) as one aggregation (1 row, broadcast),
    * and per-doc scores as a pure projection summing micro-unit longs
    * in fixed literal order exactly as [[bm25ScoreColumn]] does (they
    * share [[bm25Micro]]) — bit-equal to the old explode → tf-shuffle
    * → groupBy formulation, which materialized every token as a row. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = K1, b: Double = B): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores: queryTerms must be non-empty")
    // a repeated term must not double-count: normalize once here so the
    // aggregation scorer, the index probe and the column scorer agree
    val terms0 = queryTerms.distinct
    graft.functions.TextExprs.register(docs.sparkSession)
    val tcCol = call_function("term_tfs", col("_g_tx"),
      typedLit(terms0).cast("array<string>"))
    // ONE tokenize pass, ONE shared exchange (r16; guide §2.3/§2.4).
    // The r15 shape spread the RAW TEXT and let the stats and scoring
    // branches each consume it — but column pruning specialized the two
    // exchange subtrees (stats drops the id), so ReuseExchange never
    // fired and the corpus was scanned AND tokenized twice per query
    // (qstages census: two 32-task stages of ~1 s cpu each at sf0.1; at
    // 100 TB, two full text passes). Now the compact [dl, tf_0…tf_k-1]
    // vector is computed map-side in the scan stage and the exchange
    // carries (id, vector) rows — tens of bytes per doc instead of the
    // text — KEYED ON id, which pins the id column into both branches'
    // pruned subtrees so they stay identical and the scoring job reads
    // the stats job's shuffle output (ReusedExchange, census-verified).
    // Tokenize parallelism comes from the input's natural splits, which
    // a corpus-scale input always has; the kernel CONTRACTS text to
    // k+2 longs, so nothing explode-shaped needs a pre-spread here.
    // The two selects stay layered (tc aliased once, getItems above) so
    // CollapseProject cannot inline the kernel call per extracted item.
    val base = docs
      .select(col(idCol).cast("long").as(idCol),
        col(textCol).as("_g_tx"))
      .select(col(idCol), tcCol.as("_g_tc"))
      .select(Seq(col(idCol), col("_g_tc").getItem(0).as("_g_dl")) ++
        terms0.indices.map(i =>
          col("_g_tc").getItem(i + 1).as(s"_g_tf_$i")): _*)
      .repartition(col(idCol))
    // corpus stats in ONE map-side aggregation (1 row, broadcast):
    // N, avgdl (exact long sum / count, so the double division is the
    // only inexact, correctly-rounded op) AND per-term document
    // frequency as count of tf > 0 (≡ the old array_contains count) —
    // no df shuffle, no df join
    val dfCols = terms0.indices.map { i =>
      sum(when(col(s"_g_tf_$i") > 0, lit(1L)).otherwise(lit(0L)))
        .as(s"_g_df_$i")
    }
    val statsCols = sum(col("_g_dl")).as("_g_sum_dl") +: dfCols
    val stats = base.agg(count(lit(1)).as("_g_n"), statsCols: _*)
    // per-doc score as a projection over the broadcast stats row: rows
    // keep docs with ≥ 1 matching term — the same row set the old
    // per-token explode produced — each term's micro contribution
    // guarded by tf > 0 exactly as in [[bm25ScoreColumn]], summed as
    // longs in fixed literal order (order-independent either way).
    // The scoring side reads `base`'s exchange through a groupBy(id)
    // whose distribution the exchange already satisfies (no new
    // shuffle; ids are unique per the caller contract, so min(x) per
    // id IS the row's value): predicates on aggregate outputs do not
    // push below an aggregate, which is what keeps the tf > 0 filter
    // ABOVE the shared exchange — pushed below it (as a bare filter
    // was), the scoring subtree no longer matched the stats subtree,
    // ReuseExchange never fired, and the corpus was scanned and
    // tokenized a second time with the kernel re-evaluated per filter
    // disjunct (executed-plan + census verified).
    val micro = terms0.indices.map { i =>
      when(col(s"_g_tf_$i") > 0,
        bm25Micro(col(s"_g_tf_$i"), col(s"_g_df_$i"), col("_g_dl"),
          col("_g_n"), col("_g_sum_dl"), k1, b))
        .otherwise(lit(0L))
    }.reduceLeft(_ + _)
    base.groupBy(col(idCol))
      .agg(min(col("_g_dl")).as("_g_dl"),
        terms0.indices.map(i =>
          min(col(s"_g_tf_$i")).as(s"_g_tf_$i")): _*)
      .filter(terms0.indices.map(i => col(s"_g_tf_$i") > 0)
        .reduceLeft(_ || _))
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (micro.cast("double") / lit(1000000.0)).as("bm25"))
  }

  /** BM25 top-k: TakeOrderedAndProject over [[bm25Scores]] — no global
    * sort at any corpus size. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 10): DataFrame =
    bm25Scores(docs, idCol, textCol, queryTerms)
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)

  /** Rank the top `n` rows of a scored frame: (idCol, scoreCol, rank).
    * The LIMIT-n runs first (TakeOrdered, distributed), so the unkeyed
    * row_number window only ever sees n rows — bounded by a constant,
    * not by the corpus. */
  def rankTopN(scored: DataFrame, idCol: String, scoreCol: String,
      n: Int): DataFrame =
    scored.orderBy(col(scoreCol).desc, col(idCol).asc).limit(n)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col(scoreCol).desc, col(idCol).asc))
        .cast("long"))

  /** Reciprocal-rank fusion of two ranked frames (idCol, rank):
    * rrf = Σ 1/(c + rank) over the systems that returned the doc
    * (Cormack et al. 2009, c = 60). Inputs are top-n frames, so the
    * full-outer join is trivially broadcast at any corpus size.
    *
    * Rounding is EXACT integer-rational (ExactRound) when `c` is a
    * non-negative integer (the default 60 is): the fused score is the
    * small rational 1/(c+r) one-sided or (2c+ra+rb)/((c+ra)(c+rb))
    * two-sided, and its exact value CAN sit dead on the 6-decimal
    * halfway grid — one-sided rank 68 gives 1/128 = 7812.5 micro, rank
    * 580 gives 1/640, and two-sided (4,68) gives 3/128 (ResidueFreeSpec
    * derives the full family) — where `round(double, 6)` legitimately
    * disagrees across engines. The r13 PLANS hand-proof claimed the
    * 1/(60+r) family residue-free; mechanizing it (VERDICT r13 ask #3)
    * REFUTED it for ranks ≥ 68, so the operator now rounds exactly for
    * any rank. Off the halfway grid the exact round equals the old
    * double round bit-for-bit (both produce toDouble(m)/10^6 of the
    * same m), so existing results are unchanged. Non-integral `c`
    * falls back to double rounding (no exact rational exists). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, k: Int = 20,
      c: Double = 60.0): DataFrame = {
    val l = a.select(col(idCol), col("rank").as("_g_ra"))
    val r = b.select(col(idCol), col("rank").as("_g_rb"))
    val dblRrf = round(
      coalesce(lit(1.0) / (lit(c) + col("_g_ra").cast("double")), lit(0.0))
        + coalesce(lit(1.0) / (lit(c) + col("_g_rb").cast("double")),
          lit(0.0)), 6)
    val rrf =
      if (c >= 0 && c == math.rint(c) && c <= 1e15) {
        val ca = lit(c.toLong) + col("_g_ra").cast("long")
        val cb = lit(c.toLong) + col("_g_rb").cast("long")
        val num = when(ca.isNotNull && cb.isNotNull, ca + cb)
          .otherwise(lit(1L))
        // the product runs in DECIMAL(38,0): two (c+rank) longs can
        // overflow a long multiply before ExactRound's own input cast
        val den = when(ca.isNotNull && cb.isNotNull,
            ca.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * cb)
          .otherwise(coalesce(ca, cb))
        // the exact rational exists only for INTEGRAL ranks (internal
        // callers always supply row_number longs); a fractional rank
        // from an external caller routes to the double path per-row
        // instead of being silently truncated by the long cast
        val raD = col("_g_ra").cast("double")
        val rbD = col("_g_rb").cast("double")
        val integral = (raD.isNull || raD === floor(raD)) &&
          (rbD.isNull || rbD === floor(rbD))
        when(integral, graft.functions.ExactRound.ratio(num, den, 6))
          .otherwise(dblRrf)
      } else dblRrf
    l.join(r, Seq(idCol), "full_outer")
      .select(col(idCol), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  /** Contrastive hard-negative mining: for each anchor vector, the top-k
    * most-similar vectors with a DIFFERENT label — the DPR/SimCSE
    * training-pair shape. Output (anchor_id, rank, neg_id, cosine).
    *
    * The anchor batch is driver-held (`anchorIds` literal) and broadcast;
    * the label-inequality theta join is a BroadcastNestedLoopJoin against
    * that constant-size side (the x1/x5 convention), scoring map-side.
    * Per-anchor top-k is a rank-filtered window partitioned by anchor —
    * Spark rewrites it to WindowGroupLimit, so each partition keeps k
    * rows, never sorts its full candidate list globally. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, anchorIds: Seq[Long], k: Int = 5): DataFrame = {
    require(anchorIds.nonEmpty, "hardNegatives: anchorIds must be non-empty")
    graft.functions.VectorExprs.register(df.sparkSession)
    val base = df.select(col(idCol).cast("long").as("_g_id"),
      col(vecCol).as("_g_v"), col(labelCol).as("_g_l"))
    val anch = base.filter(col("_g_id").isin(anchorIds: _*))
      .select(col("_g_id").as("anchor_id"), col("_g_v").as("_g_qv"),
        col("_g_l").as("_g_al"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neg_id").asc)
    base.join(broadcast(anch), col("_g_l") =!= col("_g_al"))
      .select(col("anchor_id"), col("_g_id").as("neg_id"),
        round(call_function("vec_cosine", col("_g_v"), col("_g_qv")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("rank"), col("neg_id"), col("cosine"))
  }

  /** Maximal-marginal-relevance rerank: greedily pick `k` of the top-`n`
    * cosine candidates, each step maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` (λ = 0.5; the first
    * pick treats the max term as 0). Output (step, id, mmr) in pick order.
    *
    * Candidate generation is distributed (map-side cosine + TakeOrdered
    * top-n); the greedy loop is inherently sequential, so it runs on the
    * driver over the n collected vectors — O(n·k) work on constants, the
    * shape a serving-layer reranker uses. All similarities round to 6
    * decimals BEFORE entering the arg-max (the engine-portable ranking
    * convention), ties break on the smaller id. */
  def mmrRerank(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], n: Int = 20, k: Int = 8,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && n >= k, s"mmrRerank: need n >= k >= 1, got n=$n k=$k")
    val s = df.sparkSession
    graft.functions.VectorExprs.register(s)
    val cand = df
      .select(col(idCol).cast("long").as("_g_id"),
        col(vecCol).cast("array<double>").as("_g_v"))
      .select(col("_g_id"), col("_g_v"),
        round(call_function("vec_cosine", col("_g_v"),
          typedLit(query)), 6).as("_g_simq"))
      .orderBy(col("_g_simq").desc, col("_g_id").asc)
      .limit(n)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    // pairwise candidate similarity, same kernel + rounding as the engine
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var sab = 0.0; var saa = 0.0; var sbb = 0.0; var i = 0
      while (i < a.length) {
        sab += a(i) * b(i); saa += a(i) * a(i); sbb += b(i) * b(i); i += 1
      }
      sab / (math.sqrt(saa) * math.sqrt(sbb))
    }
    def r6(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // the combined score rounds at SEVEN decimals, not six: with the
    // default λ = 0.5 the true score is half of a difference of two
    // round-6 values — a number with EXACTLY seven decimals, so every
    // score would sit precisely ON the round-6 halfway grid, where two
    // engines' last-ulp double representations legitimately round to
    // different sides (observed: the sf0.1 oracle replay diverged by
    // 1e-6 on step 2). At seven decimals the default λ's grid is exact —
    // no halfway case exists — and both engines round the identical
    // IEEE double to the identical value. Non-half λ values keep
    // engine-internal determinism (the invariance sweep's property) but
    // an external replay may still ulp-diverge at ITS rounding
    // boundaries; the gate pins λ = 0.5.
    def r7(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(7, java.math.RoundingMode.HALF_UP).doubleValue()
    val sim = collection.mutable.Map.empty[(Long, Long), Double]
    for (a <- cand; b <- cand if a._1 != b._1)
      sim((a._1, b._1)) = r6(cos(a._2, b._2))
    val selected = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val picked = collection.mutable.Set.empty[Long]
    var step = 1L
    while (step <= k) {
      val best = cand.iterator.filterNot(c => picked(c._1)).map { c =>
        val diversity =
          if (picked.isEmpty) 0.0
          else picked.iterator.map(p => sim((c._1, p))).max
        (c._1, r7(lambda * c._3 - (1.0 - lambda) * diversity))
      }.reduceLeft((x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
      selected += ((step, best._1, best._2))
      picked += best._1
      step += 1
    }
    import s.implicits._
    selected.toSeq.toDF("step", idCol, "mmr")
  }

  // ---- persisted postings index (build once, probe partition-pruned) ----

  /** Build and persist a BM25 postings index: the lexical analog of
    * [[IvfPq.writeIndex]]'s serving story. Layout under `path`:
    *  - `postings/` — (id, term, tf, dl) hive-partitioned by
    *    `pt = pmod(xxhash64(term), nBuckets)`, so a query's probe reads
    *    ONLY its terms' buckets (PartitionFilters, spec-held) — at
    *    100 TB the other `nBuckets − |terms|` buckets' files never open;
    *  - `stats/` — one row (n, avgdl, n_buckets): the corpus constants,
    *    plus the bucket geometry so a probe can never hash against the
    *    wrong partitioning.
    *
    * The build is the classic one-shuffle inverted-index construction:
    * explode → groupBy(id, term). Per-term document frequency is NOT
    * stored — it is exact and cheap at query time (a count over the
    * already-pruned postings), which keeps the build single-pass and the
    * index incrementally appendable. */
  /** The one-shuffle inverted-index construction shared by the full
    * build and the incremental append: explode → groupBy(id, term) →
    * bucket-partitioned write. The pre-write repartition pins the
    * output-file geometry to the BUCKET count instead of (upstream
    * tasks × buckets): partitionBy from T aggregate tasks writes up to
    * T files per bucket — at cluster scale (1000 tasks × 64 buckets) a
    * 64k-small-file spray that object stores and probe listings both
    * pay for; one extra shuffle of the compact rows buys exactly one
    * file per occupied bucket. Returns (n, sum_dl) measured WITHOUT a
    * second corpus pass: sum(tf) over the written postings equals
    * sum(dl) over the corpus, and n is a count-only scan. */
  private def writePostings(docs: DataFrame, idCol: String,
      textCol: String, postingsPath: String, nBuckets: Int,
      withPositions: Boolean): (Long, Long) = {
    graft.functions.TextExprs.register(docs.sparkSession)
    val base = docs
      .select(col(idCol).cast("long").as("id"),
        call_function("split_words", col(textCol)).as("_g_ws"))
      .select(col("id"), col("_g_ws"),
        size(col("_g_ws")).cast("long").as("dl"))
    // positional postings add one sorted offsets array per (doc, term) —
    // ~the token count in extra storage, the standard phrase/proximity
    // trade (Lucene's positions file); BM25 probes never read the column
    // (they select id/term/tf/dl, so parquet column pruning skips it)
    val tokens =
      if (withPositions)
        base.select(col("id"), col("dl"),
          posexplode(col("_g_ws")).as(Seq("pos", "term")))
      else
        base.select(col("id"), col("dl"), explode(col("_g_ws")).as("term"))
    val aggCols =
      if (withPositions)
        Seq(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
          sort_array(collect_list(col("pos"))).as("positions"))
      else Seq(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val sumDl = writePostingsRows(
      tokens.groupBy(col("id"), col("term"))
        .agg(aggCols.head, aggCols.tail: _*)
        .withColumn("pt", pmod(xxhash64(col("term")), lit(nBuckets.toLong))),
      postingsPath, nBuckets)
    (docs.count(), sumDl)
  }

  /** Write already-aggregated postings rows (id, term, tf, dl[,
    * positions], pt) in the standard bucket-partitioned layout; returns
    * sum(tf) measured over the WRITTEN files (= sum_dl of the documents
    * the rows came from — the no-second-corpus-pass convention of
    * [[writePostings]]). The explicit read schema handles a row-less
    * write (an all-zero-token generation has nothing to infer from). */
  private def writePostingsRows(rows: DataFrame, postingsPath: String,
      nBuckets: Int): Long = {
    rows.repartition(nBuckets, col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(postingsPath)
    val sumRow = rows.sparkSession.read.schema("tf BIGINT")
      .parquet(postingsPath).agg(sum(col("tf"))).head()
    if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
  }

  /** The stats commit-marker row: (n, avgdl, n_buckets, sum_dl,
    * with_positions). `sum_dl` is the exact integer the appended-index
    * arithmetic folds (avgdl alone would re-round); `with_positions`
    * records the layout so appends can never mix geometries. */
  private def writeStats(spark: SparkSession, statsPath: String, n: Long,
      sumDl: Long, nBuckets: Int, withPositions: Boolean): Unit = {
    import spark.implicits._
    val avgdl: Option[Double] =
      if (n == 0) None else Some(sumDl.toDouble / n)
    Seq((n, avgdl, nBuckets, sumDl, withPositions))
      .toDF("n", "avgdl", "n_buckets", "sum_dl", "with_positions")
      .write.mode("overwrite").parquet(statsPath)
  }

  def indexCorpus(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64,
      withPositions: Boolean = false): Unit = {
    require(nBuckets >= 1, s"indexCorpus: nBuckets must be >= 1, got $nBuckets")
    // a build is a mutation too: an in-place REBUILD racing the owning
    // stream's appends would interleave exactly like a rogue append —
    // the whole sequence runs under the path's WRITER lease
    IndexLayout.withWriterLease(docs.sparkSession, path, "indexCorpus") {
      // an in-place REBUILD must first retract the previous build's
      // commit marker AND its appends: with stale stats/ left standing,
      // a failure midway through the postings overwrite would leave a
      // readable stats over mixed-generation postings — probes would
      // serve garbage instead of raising the rebuild-needed error; stale
      // appends would double-serve the old corpus's increments
      val conf = docs.sparkSession.sessionState.newHadoopConf()
      val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
      val fs = statsPath.getFileSystem(conf)
      fs.delete(statsPath, true): Unit
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/appends"), true): Unit
      // and retract any generational layout: a rebuild over a previously
      // compactInPlace'd path must not leave a stale CURRENT standing, or
      // every probe/append would keep resolving the retired generation
      // and silently serve the OLD corpus (IndexLayout.retract doc)
      IndexLayout.retract(docs.sparkSession, path)
      val (n, sumDl) = writePostings(docs, idCol, textCol,
        s"$path/postings", nBuckets, withPositions)
      // stats LAST — it is the commit marker: a failure mid-postings-
      // write leaves no stats/, so readStats raises a clear
      // not-an-index error instead of probes tripping over a
      // half-built postings directory
      writeStats(docs.sparkSession, s"$path/stats", n, sumDl, nBuckets,
        withPositions)
    }
  }

  /** INCREMENTAL index growth — the lexical analog of
    * [[IvfPq.appendToIndex]]: new documents' postings land in their own
    * `appends/batch=<id>/` generation (same bucket hash and layout as
    * the base, read back by every probe via [[loadPostings]]), and the
    * per-batch stats row is its commit marker written LAST. Because the
    * probes compute per-term df over the (pruned) union and fold the
    * appended (n, sum_dl) into the corpus constants, an appended index
    * ranks BIT-FOR-BIT like a full rebuild over the grown corpus
    * (spec-held) — no rebuild, no reread of the base corpus.
    *
    * `batchId` keys the generation directory (overwrite semantics), so
    * a foreachBatch replay after a mid-write failure overwrites its own
    * append instead of duplicating rows — the same at-least-once
    * contract as the IVF-PQ streaming append. Without it each call gets
    * a UUID generation. Caller contract: ids disjoint from the base
    * corpus (a re-ingested doc belongs in dedupeIncrement's admit path,
    * not here). Many small appends degrade probe listings — fold them
    * with [[compactTo]]. */
  def appendToPostings(docs: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Option[Long] = None,
      streamId: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    // the whole mutation runs under the path's WRITER lease: a manual
    // append racing the owning stream (or a second loop that dodged
    // checkStreamId by passing streamId = None) fails loudly instead
    // of interleaving with a fold/flip (IndexLayout.withWriterLease)
    IndexLayout.withWriterLease(spark, path, "appendToPostings") {
      // one index path, one streaming lineage: a keyed append from a
      // DIFFERENT checkpoint throws before the replay guard can mistake
      // its restarted ids for replays (IndexLayout.checkStreamId doc)
      IndexLayout.checkStreamId(spark, path, streamId, "appendToPostings")
      val root = activeRoot(spark, path)
      // at-least-once across COMPACTION: the one genuine replay of a
      // FOLDED batch (id == the folded high-water mark) no-ops — its
      // rows are already in the folded generation and its own appends
      // directory no longer exists to overwrite; an id BELOW the mark is
      // a different stream's and throws (IndexLayout.replayGuard doc)
      if (!IndexLayout.replayGuard(spark, root, batchId,
          "appendToPostings")) {
        val (nBuckets, withPositions) = {
          val r = readBaseStats(spark, root)
          (r.getAs[Int]("n_buckets"), r.getAs[Boolean]("with_positions"))
        }
        val gen = batchId.map(i => s"batch=$i").getOrElse(
          s"batch=${java.util.UUID.randomUUID().toString}")
        val dir = s"$root/appends/$gen"
        // retract THIS generation's marker first: a replay that died
        // between postings and stats must not leave a committed
        // half-write
        val statsPath = new org.apache.hadoop.fs.Path(s"$dir/stats")
        statsPath.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(statsPath, true): Unit
        val (n, sumDl) = writePostings(docs, idCol, textCol,
          s"$dir/postings", nBuckets, withPositions)
        writeStats(spark, s"$dir/stats", n, sumDl, nBuckets,
          withPositions)
      }
    }
  }

  /** The generation an index path currently SERVES ([[IndexLayout]]):
    * `path` itself (the plain [[indexCorpus]] layout) until the first
    * [[compactInPlace]], afterwards the `generations/g<k>` named by the
    * `CURRENT` pointer. Every probe / append / compaction entry point
    * resolves through this once, so a flip between two of a probe's
    * reads cannot mix generations. */
  private def activeRoot(spark: SparkSession, path: String): String =
    IndexLayout.activeRoot(spark, path)

  /** Highest batchId ever folded into `root` by a compaction (−1 when
    * none): the replay guard [[appendToPostings]] consults. */
  private def foldedMax(spark: SparkSession, root: String): Long =
    IndexLayout.foldedMax(spark, root)

  /** Fold the active generation and its committed appends into a FRESH
    * generation under `path/generations/` and atomically flip the
    * `CURRENT` pointer to it — in-place compaction for a SERVED index
    * path: probes before the flip read the old generation's intact
    * files, probes after it the new single-generation layout, and the
    * path callers hold never changes. Generations older than the one
    * just superseded are deleted (one overlapping cycle of grace for
    * in-flight scans). Single-writer contract: appends and compactions
    * must be sequenced by one writer (the foreachBatch loop), as with
    * [[appendToPostings]] itself. Returns the new active root. */
  def compactInPlace(spark: SparkSession, path: String): String =
    IndexLayout.compactInPlace(spark, path,
      Seq("postings", "stats", "appends"), compactTo(spark, _, _))

  /** The auto-compaction policy dial: fold when the active generation
    * has accumulated at least `maxGenerations` committed appends —
    * probe cost grows LINEARLY with generation count (each adds a
    * listing + a union branch per probe; genscale measured
    * ~+0.15 s/generation at sf0.1, 5× the compacted probe by 20
    * generations — PLANS.md r10), so continuous ingestion calls this
    * after each commit ([[graft.streaming.DocStreams.indexArrivals]]'s
    * `compactEvery`). `maxGenerations = 8` is a good default: probe
    * stays within ~2× its compacted floor while compaction cost
    * amortizes over the 8 batches. Returns whether a compaction ran. */
  def maybeCompact(spark: SparkSession, path: String,
      maxGenerations: Int): Boolean =
    IndexLayout.maybeCompact(spark, path, maxGenerations,
      committedAppends(spark, _), () => compactInPlace(spark, path))

  /** Operational status of a SERVED generational path — the
    * introspection side of the ops surface (README "running the serving
    * loops"): which generation serves, how many stand, how many appends
    * are committed vs half-written, the folded replay mark, the bound
    * stream lineage, and who (if anyone) holds the writer lease and
    * whether it has outlived its TTL. One row, assembled entirely from
    * driver-side filesystem METADATA (listings + two tiny file reads) —
    * no data scan, so it is safe to poll against a live loop from a
    * monitoring job. Works on every layout that shares
    * [[IndexLayout]]'s conventions: BM25 postings ([[indexCorpus]]),
    * IVF-PQ snapshots ([[IvfPq]]), and the admit stores
    * ([[graft.streaming.DocStreams.admitArrivals]]) — an append counts
    * as committed under ANY of the three marker conventions (`stats/`
    * subdir, `_GRAFT_COMMIT`, legacy `_SUCCESS`). `pending_appends > 0`
    * on a path with no running writer = a crashed mid-write batch that
    * replay will overwrite (or compaction will skip); `writer_expired
    * = true` = a crashed holder whose lease the next writer may break. */
  def indexStatus(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    // a CURRENT flip or a rebuild's retract can land between any two of
    // this probe's reads: every read below is individually guarded so
    // the probe reports a truthful (if momentarily stale) snapshot
    // instead of crashing — the "safe to poll against a live loop"
    // contract in the scaladoc
    val root = try activeRoot(spark, path)
      catch { case _: java.io.IOException => path }
    // a status probe against a LIVE loop races compactions (generation
    // retire deletes directories between the exists() and the list):
    // best-effort listings, never a crash — an empty answer for a dir
    // that vanished mid-read is the truthful snapshot semantics here
    def safeList(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
      try { if (fs.exists(p)) fs.listStatus(p) else Array.empty }
      catch { case _: java.io.FileNotFoundException => Array.empty }
    val nGens = safeList(new Path(s"$path/generations")).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("g")).toLong
    val (committed, pending) = {
      val dirs = safeList(new Path(s"$root/appends")).filter(_.isDirectory)
      val c = dirs.count(d =>
        try fs.exists(new Path(d.getPath, "stats")) ||
          fs.exists(new Path(d.getPath, "_GRAFT_COMMIT")) ||
          fs.exists(new Path(d.getPath, "_SUCCESS"))
        catch { case _: java.io.FileNotFoundException => false })
      (c.toLong, (dirs.length - c).toLong)
    }
    val streamId = {
      val p = new Path(s"$path/stream_id")
      if (fs.exists(p))
        try Some(IndexLayout.readSmall(spark, p))
        catch { case _: java.io.IOException => Some("<unreadable>") }
      else None
    }
    val (holder, ageMs, expired) = {
      val p = new Path(s"$path/WRITER")
      if (!fs.exists(p)) (None, None, None)
      else {
        val ttlMs = IndexLayout.writerLeaseTtlMs(spark)
        val h = try IndexLayout.readSmall(spark, p)
          catch { case _: java.io.IOException => "<unreadable>" }
        // mtime AFTER content: pairing fresh content with a stale mtime
        // (a break+reacquire landing between the reads) must not report
        // the NEW holder as expired (the lease-break read-order lesson,
        // IndexLayout.acquire doc)
        val age = try
          Some(System.currentTimeMillis() - fs.getFileStatus(p)
            .getModificationTime)
          catch { case _: java.io.IOException => None }
        (Some(h), age, age.map(_ > ttlMs))
      }
    }
    val foldedMax = try IndexLayout.foldedMax(spark, root)
      catch { case _: java.io.IOException => -1L }
    val row = org.apache.spark.sql.Row(path, root,
      IndexLayout.currentGen(path, root), nGens,
      foldedMax, committed, pending,
      streamId.orNull, holder.orNull,
      ageMs.map(java.lang.Long.valueOf).orNull,
      expired.map(java.lang.Boolean.valueOf).orNull)
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Collections.singletonList(row),
      StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("active_root", StringType, nullable = false),
        StructField("current_gen", LongType, nullable = false),
        StructField("n_generations", LongType, nullable = false),
        StructField("folded_max", LongType, nullable = false),
        StructField("committed_appends", LongType, nullable = false),
        StructField("pending_appends", LongType, nullable = false),
        StructField("stream_id", StringType, nullable = true),
        StructField("writer_holder", StringType, nullable = true),
        StructField("writer_age_ms", LongType, nullable = true),
        StructField("writer_expired", BooleanType, nullable = true))))
  }

  /** Fold an index and all its committed appends into ONE fresh index
    * at `dest` (full-rebuild layout: single postings generation, merged
    * stats, no appends) — the compaction that keeps probe listings flat
    * under continuous ingestion. `dest` is a NEW directory, written
    * postings-first / stats-last, so a crash mid-compaction leaves dest
    * unreadable-as-an-index and `path` untouched: the caller flips its
    * serving path only after this returns. */
  def compactTo(spark: SparkSession, path: String, dest: String): Unit = {
    val root = activeRoot(spark, path)
    require(new org.apache.hadoop.fs.Path(dest).toUri.getPath !=
      new org.apache.hadoop.fs.Path(path).toUri.getPath &&
      new org.apache.hadoop.fs.Path(dest).toUri.getPath !=
      new org.apache.hadoop.fs.Path(root).toUri.getPath,
      "compactTo: dest must be a different directory")
    val base = readBaseStats(spark, root)
    val nBuckets = base.getAs[Int]("n_buckets")
    val withPositions = base.getAs[Boolean]("with_positions")
    val (n, _, _, _) = readStats(spark, root)
    // carry the replay guard forward: dest's folded mark covers every
    // batchId-keyed generation this compaction folds PLUS everything a
    // previous compaction already folded into `root`'s base
    IndexLayout.writeFoldedMax(spark, dest,
      IndexLayout.foldedMarkFor(spark, root,
        committedAppends(spark, root)
          .map(d => new org.apache.hadoop.fs.Path(d).getName)))
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (n == 0) {
      // an empty index still gets the FULL rebuild layout — a postings
      // directory (file-less, like indexCorpus over an empty corpus
      // writes) plus stats: documents appended to dest later must find
      // the base postings path readable, not a missing-path crash on
      // the first probe
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dest/postings")): Unit
      writeStats(spark, s"$dest/stats", 0L, 0L, nBuckets, withPositions)
      return
    }
    val all = loadPostings(spark, root, withPositions)
    all.repartition(nBuckets, col("pt"))
      .write.mode("overwrite").partitionBy("pt").parquet(s"$dest/postings")
    val sumRow = spark.read.schema("tf BIGINT").parquet(s"$dest/postings")
      .agg(sum(col("tf"))).head()
    val sumDl = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
    writeStats(spark, s"$dest/stats", n, sumDl, nBuckets, withPositions)
  }

  /** Exact phrase search over a positions-bearing postings index
    * ([[indexCorpus]] with `withPositions = true`): documents containing
    * the words of `phrase` consecutively, ranked by occurrence count —
    * (id, n_occurrences), count desc, id asc.
    *
    * The match is a left-fold over the phrase's per-term position
    * arrays: start at term 0's offsets, each step keeps term i's offsets
    * that extend a match (`array_intersect(acc + 1, positions_i)`) — all
    * integer set ops, engine-exact. Scale: ONE bucket-PRUNED scan
    * (PartitionFilters) feeds ONE groupBy(id) that pivots each doc's
    * per-term offset arrays side by side — the probe reads each term's
    * postings once and shuffles each matching posting once, keyed by
    * doc id, never the corpus. */
  def phraseTopK(spark: SparkSession, path: String, phrase: Seq[String],
      k: Int = 10, slop: Int = 0): DataFrame = {
    require(phrase.size >= 2, "phraseTopK: phrase needs >= 2 words")
    require(slop >= 0, s"phraseTopK: slop must be >= 0, got $slop")
    val root = activeRoot(spark, path)
    val (nDocs, _, nBuckets, withPositions) = readStats(spark, root)
    require(withPositions,
      s"phraseTopK: the index at $path was built without positions — " +
        "rebuild with indexCorpus(..., withPositions = true)")
    if (nDocs == 0L)
      return emptyResult(spark, "id BIGINT, n_occurrences BIGINT")
    val terms = phrase.distinct
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val postings = loadPostings(spark, root, withPositions)
    val pruned = postings
      .filter(col("pt").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("id"), col("term"), col("positions"))
    // ONE pruned scan + ONE groupBy(id) instead of one scan per phrase
    // word plus m−1 id-equi-joins (the r15 verdict's one-scan
    // discipline): postings hold exactly one row per (id, term) across
    // generations (the build's groupBy(id, term); append ids are
    // disjoint from the base by contract), so `max(when(term = tᵢ,
    // positions))` picks that row's offsets verbatim — max over one
    // non-null value per group, deterministic — and a doc lacking any
    // phrase word keeps a null and drops below, exactly the rows the
    // inner joins kept. Scale shape: the exchange carries each matching
    // posting once, keyed by doc id (never a per-term hot key), where
    // the join form shuffled every per-term frame separately.
    val aggCols = phrase.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("positions"))).as(s"_p$i")
    }
    val joined = pruned.groupBy(col("id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(phrase.indices.map(i => col(s"_p$i").isNotNull)
        .reduceLeft(_ && _))
    // slop widens each step's allowed gap to 1..slop+1 (Lucene-style
    // ordered proximity); the intersect dedups, so n_occurrences counts
    // DISTINCT end positions that complete a within-slop match
    val folded = phrase.indices.tail.foldLeft(col("_p0")) { (acc, i) =>
      val nextCands =
        if (slop == 0) transform(acc, x => x + lit(1))
        else flatten(transform(acc,
          x => sequence(x + lit(1), x + lit(1 + slop))))
      array_intersect(nextCands, col(s"_p$i"))
    }
    joined
      .select(col("id"), size(folded).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("id").asc)
      .limit(k)
  }

  /** Index stats row as (n, avgdl, nBuckets); an index built over an
    * EMPTY corpus has a null avgdl (no rows to average) — surfaced as
    * 0.0 so probes can early-return instead of NPE-ing. */
  /** The base generation's stats row, appends NOT folded in. */
  private def readBaseStats(spark: SparkSession,
      path: String): org.apache.spark.sql.Row = {
    // stats/ is written LAST by indexCorpus — its absence means "not an
    // index / interrupted build", which deserves a rebuild-needed error
    // rather than a confusing partial-postings read further down
    val row =
      try spark.read.parquet(s"$path/stats").head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"no postings index at $path (missing stats/ commit marker — " +
              "an interrupted indexCorpus build leaves no stats); rebuild " +
              "with indexCorpus(...)", e)
      }
    // a stats row missing the newer fields is a PREVIOUS-LAYOUT index:
    // fail with the rebuild story, not a raw "sum_dl does not exist"
    // five frames down in the middle of a probe
    val have = row.schema.fieldNames.toSet
    val need = Seq("n", "avgdl", "n_buckets", "sum_dl", "with_positions")
    val missing = need.filterNot(have)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"the postings index at $path was built by an older layout " +
        s"(stats missing ${missing.mkString(", ")}); rebuild with " +
        "indexCorpus(...)")
    row
  }

  /** COMMITTED append generations under `path/appends` — directories
    * whose own stats marker exists; a half-written append (crash between
    * postings and stats) is invisible to every probe. */
  private def committedAppends(spark: SparkSession,
      path: String): Seq[String] = {
    val appends = new org.apache.hadoop.fs.Path(s"$path/appends")
    val fs = appends.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(appends)) Nil
    else fs.listStatus(appends).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "stats")))
      .map(_.toString).sorted
  }

  /** Index constants with every committed append folded in: n and
    * sum_dl are the GROWN corpus's (exact integer arithmetic — identical
    * to what a full rebuild over the union would compute; scorers
    * consume sum_dl/n as an exact rational, never a pre-rounded avgdl
    * double), bucket count is invariant across generations by
    * construction. Returns (n, sumDl, nBuckets, withPositions).
    *
    * MEMOIZED per (session, root, file-listing snapshot): the stats rows
    * are immutable commit markers of their generation, so re-reading
    * them per probe spent 2 Spark jobs (schema inference + head) per
    * generation on every warm probe — the dominant fixed cost of
    * x21/x23/x26/x27/x31's serving path (qstages census: 2-4 of x21's 4
    * / x31's 6 warm jobs were stats reads). The memo key takes a FRESH
    * recursive listing of the root on every call (driver-side metadata,
    * no Spark job), so an append, rebuild or compaction — anything that
    * changes any file under the root — recomputes: probes after a
    * mutation read exactly what an unmemoized read would. */
  private def readStats(spark: SparkSession,
      path: String): (Long, Long, Int, Boolean) =
    SnapshotCache.memo(spark, "bm25stats", path) {
      readStatsUncached(spark, path)
    }

  private def readStatsUncached(spark: SparkSession,
      path: String): (Long, Long, Int, Boolean) = {
    val base = readBaseStats(spark, path)
    var n = base.getAs[Long]("n")
    var sumDl = base.getAs[Long]("sum_dl")
    val nBuckets = base.getAs[Int]("n_buckets")
    val withPositions = base.getAs[Boolean]("with_positions")
    committedAppends(spark, path).foreach { dir =>
      val r = spark.read.parquet(s"$dir/stats").head()
      n += r.getAs[Long]("n")
      sumDl += r.getAs[Long]("sum_dl")
    }
    (n, sumDl, nBuckets, withPositions)
  }

  /** The on-disk postings schema, stated EXPLICITLY for every read: a
    * generation whose documents all tokenized to zero words (an empty
    * streaming micro-batch, an all-whitespace corpus slice) writes a
    * postings directory with no parquet files, and schema INFERENCE on
    * a file-less directory throws — an explicit schema makes it what it
    * semantically is, an empty relation, so one empty committed
    * generation can never brick every subsequent probe of the index. */
  private def postingsSchema(withPositions: Boolean)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      if (withPositions)
        "id BIGINT, term STRING, tf BIGINT, dl BIGINT, " +
          "positions ARRAY<INT>, pt BIGINT"
      else "id BIGINT, term STRING, tf BIGINT, dl BIGINT, pt BIGINT")

  /** The postings relation probes read: the base generation UNION every
    * committed append. Bucket/term filters push into each branch's scan,
    * so partition pruning holds per generation; with no appends this is
    * exactly the single base scan. */
  private def loadPostings(spark: SparkSession, path: String,
      withPositions: Boolean): DataFrame = {
    val schema = postingsSchema(withPositions)
    committedAppends(spark, path).foldLeft(
      spark.read.schema(schema).parquet(s"$path/postings")) { (acc, dir) =>
      acc.unionByName(spark.read.schema(schema).parquet(s"$dir/postings"))
    }
  }

  /** Typed empty result for probes of an empty index (its postings dir
    * has no parquet files, so even a schema read would fail). */
  private def emptyResult(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** The bucket a term's postings live in — the driver-side twin of the
    * build's `pmod(xxhash64(term), nBuckets)` (same seed-42 xxhash64). */
  private def termBucket(t: String, nBuckets: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(t),
      org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** BM25 top-k served from a persisted postings index: (id, bm25).
    * Identical arithmetic to [[bm25Scores]] (same micro-unit integer
    * summation), so an index probe and a full-corpus scan rank
    * identically — but the probe reads only the query terms' partitions:
    * the bucket literals prune at the driver (PartitionFilters) and the
    * term `isin` prunes rows within them. df per term is counted over
    * the pruned relation (exact: postings hold one row per (doc, term)).
    * The pruned relation is read twice (df + scoring) — both reads open
    * only the probed buckets' files, the term dictionary pattern. */
  def bm25TopKIndexed(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int = 10, k1: Double = K1,
      b: Double = B): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKIndexed: queryTerms must be non-empty")
    // a repeated term must not double-count: normalize once here so the
    // aggregation scorer, the index probe and the column scorer agree
    val terms0 = queryTerms.distinct
    val root = activeRoot(spark, path)
    val (nDocs, sumDl, nBuckets, withPositions) = readStats(spark, root)
    if (nDocs == 0L) return emptyResult(spark, "id BIGINT, bm25 DOUBLE")
    val buckets = terms0.map(termBucket(_, nBuckets)).distinct
    val pruned = loadPostings(spark, root, withPositions)
      .filter(col("pt").isin(buckets: _*) &&
        col("term").isin(terms0: _*))
      .select(col("id"), col("term"), col("tf"), col("dl"))
    val dfreq = pruned.groupBy(col("term")).agg(count(lit(1)).as("_g_df"))
    val contrib = pruned.join(broadcast(dfreq), "term")
      .select(col("id"),
        bm25Micro(col("tf"), col("_g_df"), col("dl"),
          lit(nDocs), lit(sumDl), k1, b).as("_g_cm"))
    contrib.groupBy(col("id")).agg(sum(col("_g_cm")).as("_g_sm"))
      .select(col("id"),
        (col("_g_sm").cast("double") / lit(1000000.0)).as("bm25"))
      .orderBy(col("bm25").desc, col("id").asc)
      .limit(k)
  }

  /** Batch BM25 served from a persisted postings index — the lexical
    * analog of [[EmbeddingOps.ivfTopKBatch]]'s serving shape: a query
    * TABLE (qIdCol, termsCol: array of words) scored in one pass,
    * (query_id, rank, id, bm25) per hit.
    *
    * The query batch is bounded (it broadcasts), so its distinct terms
    * collect driver-side to form the bucket literals — the probe stays a
    * PartitionFilters-pruned scan exactly like the single-query path.
    * Per-term df is query-independent and computed once over the pruned
    * relation; scoring shuffles on (qid, id) — O(query batch × matching
    * postings), never O(corpus). Per-query top-k runs as a rank-filtered
    * window (WindowGroupLimit), no global sort. */
  def bm25TopKIndexedBatch(spark: SparkSession, path: String,
      queries: DataFrame, qIdCol: String, termsCol: String, k: Int = 10,
      k1: Double = K1, b: Double = B): DataFrame = {
    val root = activeRoot(spark, path)
    val (nDocs, sumDl, nBuckets, withPositions) = readStats(spark, root)
    if (nDocs == 0L) return emptyResult(spark,
      "query_id BIGINT, rank BIGINT, id BIGINT, bm25 DOUBLE")
    // array_distinct: a repeated term in one query's bag must contribute
    // once (the single-query paths all normalize with .distinct; a dup
    // here would join that term's postings twice and double-count)
    val qpairs = queries
      .select(col(qIdCol).cast("long").as("qid"),
        explode(array_distinct(col(termsCol))).as("term"))
    val terms = qpairs.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "bm25TopKIndexedBatch: queries carry no terms")
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val pruned = loadPostings(spark, root, withPositions)
      .filter(col("pt").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("id"), col("term"), col("tf"), col("dl"))
    val dfreq = pruned.groupBy(col("term")).agg(count(lit(1)).as("_g_df"))
    val contrib = pruned.join(broadcast(dfreq), "term")
      .join(broadcast(qpairs), "term")
      .select(col("qid"), col("id"),
        bm25Micro(col("tf"), col("_g_df"), col("dl"),
          lit(nDocs), lit(sumDl), k1, b).as("_g_cm"))
    val w = Window.partitionBy("qid")
      .orderBy(col("bm25").desc, col("id").asc)
    contrib.groupBy(col("qid"), col("id"))
      .agg(sum(col("_g_cm")).as("_g_sm"))
      .select(col("qid"), col("id"),
        (col("_g_sm").cast("double") / lit(1000000.0)).as("bm25"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"), col("id"), col("bm25"))
  }

  /** Frozen scoring statistics of a persisted index, for map-side scoring
    * of NEW documents (streams, micro-batches) against a corpus snapshot:
    * (N, sum_dl, df per query term) — sum_dl rather than a pre-rounded
    * avgdl double, so the column scorer's exact integer kernel sees the
    * same exact rational the aggregation scorer does. The df lookup is a
    * partition-pruned driver query over the query terms' buckets only. */
  def frozenStats(spark: SparkSession, path: String,
      queryTerms: Seq[String]): (Long, Long, Map[String, Long]) = {
    val root = activeRoot(spark, path)
    val (nDocs, sumDl, nBuckets, withPositions) = readStats(spark, root)
    if (nDocs == 0L) return (0L, 0L, Map.empty)
    val buckets = queryTerms.map(termBucket(_, nBuckets)).distinct
    val dfs = loadPostings(spark, root, withPositions)
      .filter(col("pt").isin(buckets: _*) &&
        col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (nDocs, sumDl, dfs)
  }

  /** BM25 score of a text column against driver-held query terms under
    * FROZEN stats — a pure projection (per-term tf via the one-pass
    * `term_tfs` codegen kernel, contributions as micro-unit longs
    * summed in fixed literal order), so it runs identically on a batch
    * frame or an unbounded stream: no aggregation, no state, no shuffle.
    * Matches [[bm25Scores]] bit-for-bit when the frozen stats come from
    * the scored corpus itself (spec-held); a doc matching no term scores
    * 0. The streaming twin is [[graft.streaming.DocStreams]]'s arrival
    * scoring. */
  def bm25ScoreColumn(textCol: org.apache.spark.sql.Column,
      queryTerms: Seq[String], n: Long, sumDl: Long,
      dfByTerm: Map[String, Long], k1: Double = K1,
      b: Double = B): org.apache.spark.sql.Column = {
    require(queryTerms.nonEmpty, "bm25ScoreColumn: queryTerms must be non-empty")
    // EMPTY frozen snapshot (n = 0, e.g. scoring arrivals before any
    // batch indexed): every contribution's exact denominator would be
    // zero — score 0.0 instead, matching the aggregation scorers'
    // emptyResult early-returns (an empty corpus ranks nothing). The
    // same holds for sumDl = 0 (n docs, all zero-length): no term can
    // have df > 0 there, so 0.0 is the exact score too.
    if (n <= 0L || sumDl <= 0L) return lit(0.0)
    // a repeated term must not double-count: normalize once here so the
    // aggregation scorer, the index probe and the column scorer agree
    val terms0 = queryTerms.distinct
    // per-term tf via the one-pass `term_tfs` codegen kernel — the same
    // [dl, tf_0, …] vector [[bm25Scores]] consumes, replacing the
    // per-term `size(filter(tokens, λ))` higher-order filters that
    // CodegenFallback'd per token on every arrival. Built directly as an
    // expression (a pure Column function has no session to register the
    // SQL name on); every getItem references the SAME kernel subtree, so
    // whole-stage codegen's subexpression elimination tokenizes once per
    // row. tf/dl semantics are bit-identical (TextKernels.termTfs
    // scaladoc + the codegen==interpreted spec): lowercased \s+ tokens,
    // exact string match, so scores are unchanged.
    val tc = org.apache.spark.sql.graft.SessionOps.column(
      graft.functions.TermTfsExpr(
        org.apache.spark.sql.graft.SessionOps.expression(textCol),
        org.apache.spark.sql.graft.SessionOps.expression(
          typedLit(terms0).cast("array<string>"))))
    val dl = tc.getItem(0)
    val micro = terms0.zipWithIndex.map { case (t, i) =>
      val df = dfByTerm.getOrElse(t, 0L)
      val tf = tc.getItem(i + 1)
      when(tf > 0,
        bm25Micro(tf, lit(df), dl, lit(n), lit(sumDl), k1, b))
        .otherwise(lit(0L))
    }.reduceLeft(_ + _)
    micro.cast("double") / lit(1000000.0)
  }

  /** Retrieval-quality evaluation — per-query recall@k, MRR and nDCG@k
    * of a ranked result list against binary relevance judgments: the
    * metric harness a retriever/embedding-model training loop runs
    * after every change. Output (query_id, n_rel, hits, recall, mrr,
    * ndcg), one row per query with ≥ 1 judged-relevant doc.
    *
    * `ranked` is (qidCol, rankCol 1-based, idCol) — top-k frames from
    * any retriever here (BM25, cosine, hybrid); `qrels` is
    * (qidCol, idCol), one row per relevant (query, doc) pair (must be
    * distinct). Scale shape: ranked is per-query bounded (≤ k rows per
    * query); the relevance join and the two aggregations shuffle on
    * (query, doc) / query keys only — no corpus data moves. DCG terms
    * round to micro-unit LONGs before summing (order-independent), and
    * the ideal DCG unrolls per-row from `least(n_rel, k)` via a
    * sequence aggregate — no second pass, no window. */
  def evalRanking(ranked: DataFrame, qidCol: String, rankCol: String,
      idCol: String, qrels: DataFrame, qrelQidCol: String,
      qrelIdCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"evalRanking: k must be >= 1, got $k")
    val r = ranked.select(col(qidCol).cast("long").as("_e_q"),
        col(rankCol).cast("long").as("_e_r"),
        col(idCol).cast("long").as("_e_i"))
      .filter(col("_e_r") <= k)
    val q = qrels.select(col(qrelQidCol).cast("long").as("_e_q"),
        col(qrelIdCol).cast("long").as("_e_i"))
      .withColumn("_e_rel", lit(true))
    val nrel = q.groupBy(col("_e_q")).agg(count(lit(1)).as("n_rel"))
    val metrics = r.join(q, Seq("_e_q", "_e_i"), "left_outer")
      .groupBy(col("_e_q"))
      .agg(sum(when(col("_e_rel"), lit(1L)).otherwise(lit(0L))).as("hits"),
        min(when(col("_e_rel"), col("_e_r"))).as("_e_minr"),
        sum(when(col("_e_rel"),
          round(lit(1000000.0) /
            log2(col("_e_r").cast("double") + lit(1.0)), 0).cast("long"))
          .otherwise(lit(0L))).as("_e_dcgm"))
    // every metric is an INTEGER ratio (hits/n_rel, 1/minr, the
    // micro-unit DCG sums) — rounded via exact integer arithmetic
    // ([[graft.functions.ExactRound]], the d11/d14 halfway-grid
    // convention; all three oracles mirror the HUGEINT form), so a
    // 2^a·5^b denominator can never round apart across engines
    metrics.join(nrel, "_e_q")
      .select(col("_e_q").as("query_id"), col("n_rel"), col("hits"),
        graft.functions.ExactRound.ratio(col("hits"), col("n_rel"), 6)
          .as("recall"),
        when(col("_e_minr").isNull, lit(0.0))
          .otherwise(graft.functions.ExactRound.ratio(
            lit(1L), col("_e_minr"), 6))
          .as("mrr"),
        graft.functions.ExactRound.ratio(col("_e_dcgm"),
          expr(s"aggregate(sequence(1L, least(n_rel, ${k}L)), 0L, " +
            "(acc, r) -> acc + CAST(round(1000000.0 / " +
            "log2(CAST(r AS DOUBLE) + 1.0)) AS BIGINT))"), 6)
          .as("ndcg"))
  }

  case class ModelScore(query_id: Long, doc_id: Long, model_score: Double)

  /** Stub pair scorer of the x24 gate — deterministic AND engine-portable
    * (the md5-prefix convention): score ∈ [0, 1) from the pair's md5, so
    * the DuckDB oracle replays it exactly. A real model adapter replaces
    * this with an ONNX/JNI session call; nothing else changes. */
  def stubPairScorer(pairs: Seq[(String, String)]): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    pairs.map { case (q, d) =>
      md.reset()
      val hex = md.digest((q + d).getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(7), 16) % 1000000L) / 1000000.0
    }
  }

  /** Batched model scoring over (query, doc) text pairs — the
    * cross-encoder / reward-model serving shape: one model instance per
    * PARTITION (the mapPartitions init-amortization idiom the multimodal
    * codecs use), rows streamed through it `batchSize` at a time. The
    * output must not depend on batch boundaries (spec-held). Candidates
    * are a per-query bounded frame (a retriever's top-n), so the model
    * only ever scores n·|queries| pairs — the generate-then-rerank
    * architecture that makes model inference affordable at 100 TB. */
  def scoreWithModel(cands: DataFrame, qidCol: String, docIdCol: String,
      queryTextCol: String, docTextCol: String,
      scoreBatch: Seq[(String, String)] => Seq[Double] = stubPairScorer,
      batchSize: Int = 32): DataFrame = {
    require(batchSize >= 1, s"scoreWithModel: batchSize must be >= 1")
    val s = cands.sparkSession
    val fn = scoreBatch
    val bs = batchSize
    cands.select(col(qidCol).cast("long"), col(docIdCol).cast("long"),
        col(queryTextCol), col(docTextCol))
      .mapPartitions { rows =>
        // per-partition model init happens HERE, once
        rows.grouped(bs).flatMap { batch =>
          val scores = fn(batch.map(r => (r.getString(2), r.getString(3))))
          batch.lazyZip(scores).map { (r, sc) =>
            ModelScore(r.getLong(0), r.getLong(1), sc)
          }
        }
      }(org.apache.spark.sql.Encoders.product[ModelScore])
      .toDF()
  }

  /** Per-query average precision at k — MAP's per-query term:
    * `AP = (Σ over relevant ranks r of precision@r) / min(n_rel, k)`.
    * Output (query_id, n_rel, ap), one row per judged query. The
    * running-relevant count windows over the ≤ k ranked rows per query
    * (bounded by a constant, never the corpus); precision terms round
    * to micro-unit LONGs before summing, the [[evalRanking]]
    * portability convention. */
  def averagePrecision(ranked: DataFrame, qidCol: String, rankCol: String,
      idCol: String, qrels: DataFrame, qrelQidCol: String,
      qrelIdCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"averagePrecision: k must be >= 1, got $k")
    val r = ranked.select(col(qidCol).cast("long").as("_e_q"),
        col(rankCol).cast("long").as("_e_r"),
        col(idCol).cast("long").as("_e_i"))
      .filter(col("_e_r") <= k)
    val q = qrels.select(col(qrelQidCol).cast("long").as("_e_q"),
        col(qrelIdCol).cast("long").as("_e_i"))
      .withColumn("_e_rel", lit(true))
    val nrel = q.groupBy(col("_e_q")).agg(count(lit(1)).as("n_rel"))
    val wc = Window.partitionBy(col("_e_q")).orderBy(col("_e_r").asc)
    val cum = r.join(q, Seq("_e_q", "_e_i"), "left_outer")
      .withColumn("_e_cr",
        sum(when(col("_e_rel"), lit(1L)).otherwise(lit(0L))).over(wc))
    cum.groupBy(col("_e_q"))
      .agg(sum(when(col("_e_rel"),
        round(lit(1000000.0) * col("_e_cr").cast("double") /
          col("_e_r").cast("double"), 0).cast("long"))
        .otherwise(lit(0L))).as("_e_am"))
      .join(nrel, "_e_q")
      .select(col("_e_q").as("query_id"), col("n_rel"),
        // am/(10^6·min(n_rel,k)) is an integer ratio whose denominator
        // is ALWAYS 2^a·5^b-shaped — exactly the halfway-grid hazard —
        // so it rounds via exact integer arithmetic ([[ExactRound]])
        graft.functions.ExactRound.ratio(col("_e_am"),
          least(col("n_rel"), lit(k.toLong)) * lit(1000000L), 6).as("ap"))
  }

  // ---- gate-query bindings (testdata tables; driver-oracled) ----

  /** Query terms of the lexical gates — drawn from the synthetic corpus
    * vocabulary (TESTDATA.md). */
  val GateTerms = Seq("vector", "hash", "join")

  /** x17: BM25 lexical top-k over `documents`. */
  def x17Bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25TopK(documents(s, dir), "doc_id", "text", GateTerms, k = 10)

  /** One persisted postings index per (session, corpus snapshot) — the
    * x15 serving-lifecycle convention: build + write ONCE per corpus
    * version, probe many times ([[SnapshotCache]]: a changed corpus
    * rebuilds and the stale index directory is deleted). */
  private def snapshotIndexPath(s: SparkSession, dir: String): String =
    SnapshotCache.resolve(s, "x21", s"$dir/documents.parquet") { out =>
      indexCorpus(documents(s, dir), "doc_id", "text", out)
    }

  /** x21: BM25 served from the PERSISTED postings index — build → write
    * bucket-partitioned → partition-pruned probe. Same terms, same
    * arithmetic, same oracle as x17: the gate checks that the pruned
    * serving path ranks identically to the full-corpus scan. */
  def x21Bm25Indexed(s: SparkSession, dir: String): DataFrame =
    bm25TopKIndexed(s, snapshotIndexPath(s, dir), GateTerms, k = 10)
      .select(col("id").as("doc_id"), col("bm25"))

  /** Split a FULL-corpus postings index into x31's generational layout
    * without re-tokenizing the corpus: base generation = the full
    * index's postings where id % 5 != 0, `appends/batch=0` = the rest —
    * exactly the bytes `indexCorpus(docs.filter(% 5 != 0))` +
    * `appendToPostings(docs.filter(% 5 == 0), batchId = 0)` write,
    * because the build's groupBy(id, term) commutes with any filter on
    * id: tf, dl and pt are per-(id, term) values, so filtering the
    * aggregated rows equals aggregating the filtered corpus (spec-held
    * row-for-row, stats included). Document counts still count DOCS
    * (zero-token docs carry no postings row): the caller passes the
    * base-side doc count; the append side is the full index's n minus
    * it. sum_dl per generation re-measures as sum(tf) over the written
    * files, the [[writePostings]] convention. Layout conventions match
    * the originals: writer lease around the mutation, per-generation
    * stats commit marker written LAST. */
  private[operators] def deriveMod5SplitIndex(s: SparkSession,
      fullIndexPath: String, nBase: Long, out: String): Unit = {
    val fullRoot = activeRoot(s, fullIndexPath)
    val base = readBaseStats(s, fullRoot)
    val nBuckets = base.getAs[Int]("n_buckets")
    val nFull = base.getAs[Long]("n")
    require(!base.getAs[Boolean]("with_positions"),
      "deriveMod5SplitIndex: expects a BM25 (positions-free) source index")
    val full = loadPostings(s, fullRoot, withPositions = false)
    IndexLayout.withWriterLease(s, out, "deriveMod5SplitIndex") {
      val sumBase = writePostingsRows(full.filter(col("id") % 5 =!= 0),
        s"$out/postings", nBuckets)
      writeStats(s, s"$out/stats", nBase, sumBase, nBuckets,
        withPositions = false)
      val gen = s"$out/appends/batch=0"
      val sumApp = writePostingsRows(full.filter(col("id") % 5 === 0),
        s"$gen/postings", nBuckets)
      writeStats(s, s"$gen/stats", nFull - nBase, sumApp, nBuckets,
        withPositions = false)
    }
  }

  /** x31: INCREMENTAL index growth end-to-end — the base index covers
    * 80% of the corpus (doc_id % 5 != 0), the remaining 20% stands as an
    * `appends/batch=0` generation, and the probe runs over the grown
    * union exactly as [[appendToPostings]] leaves it. The oracle is
    * x21's unchanged (full-corpus BM25): a hash match proves the
    * appended generations fold into df/n/avgdl EXACTLY like a full
    * rebuild — the no-rebuild ingestion contract.
    *
    * The BUILD derives both generations from x21's snapshot index
    * ([[deriveMod5SplitIndex]]; r15 verdict item 1) instead of
    * re-tokenizing the whole corpus a second time per snapshot — the
    * postings split is provably the same bytes, the probe path is
    * unchanged, and append machinery itself stays covered by
    * appendToPostings' own specs and the streaming twins. */
  def x31Bm25Append(s: SparkSession, dir: String): DataFrame = {
    val path = SnapshotCache.resolve(s, "x31", s"$dir/documents.parquet") {
      out =>
        val nBase = documents(s, dir)
          .filter(col("doc_id") % 5 =!= 0).count()
        deriveMod5SplitIndex(s, snapshotIndexPath(s, dir), nBase, out)
    }
    bm25TopKIndexed(s, path, GateTerms, k = 10)
      .select(col("id").as("doc_id"), col("bm25"))
  }

  /** Query table of the x27 batch gate: three term bags of different
    * sizes, one with no overlap with the others' buckets. */
  val GateBatchQueries: Seq[(Long, Seq[String])] = Seq(
    (100L, Seq("vector")), (101L, Seq("hash", "join")),
    (102L, Seq("scan", "table")))

  /** x27: the batch serving path — three query term-bags answered from
    * the SAME persisted postings index in one pass
    * ([[bm25TopKIndexedBatch]]); per-query top-5. */
  def x27Bm25Batch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = GateBatchQueries.toDF("qid", "terms")
    bm25TopKIndexedBatch(s, snapshotIndexPath(s, dir), queries,
        "qid", "terms", k = 5)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"),
        col("bm25"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** The positions-bearing index snapshot (x23) — cached separately from
    * x21's: positional postings carry the offsets column BM25 probes
    * never read. */
  private def snapshotPosIndexPath(s: SparkSession, dir: String): String =
    SnapshotCache.resolve(s, "x23", s"$dir/documents.parquet") { out =>
      indexCorpus(documents(s, dir), "doc_id", "text", out,
        withPositions = true)
    }

  /** x23: exact phrase search ("table hash") over the positional index —
    * build with positions → write → fold the per-term offset arrays.
    * The oracle states the phrase semantics directly over the text
    * (consecutive-word scan), so a hash match proves the positional
    * join-and-intersect path finds exactly the true occurrences. */
  def x23PhraseMatch(s: SparkSession, dir: String): DataFrame =
    phraseTopK(s, snapshotPosIndexPath(s, dir), Seq("table", "hash"), k = 10)
      .select(col("id").as("doc_id"), col("n_occurrences"))

  /** x18: hybrid lexical+vector retrieval — BM25 top-50 and cosine top-50
    * (query = doc/vec 0, excluded from both sides) fused with RRF. */
  def x18HybridRrf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val lex = rankTopN(
      bm25Scores(documents(s, dir), "doc_id", "text", GateTerms)
        .filter(col("doc_id") =!= 0),
      "doc_id", "bm25", 50)
    val emb = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Double](1)
    val vec = rankTopN(
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"),
          round(call_function("vec_cosine", col("v"), typedLit(q)), 6)
            .as("cosine")),
      "doc_id", "cosine", 50)
    rrfFuse(lex, vec, "doc_id", k = 20)
  }

  /** x19: hard-negative mining over `embeddings` — anchors 0-3, top-5
    * different-label negatives each. */
  def x19HardNegatives(s: SparkSession, dir: String): DataFrame =
    hardNegatives(embeddings(s, dir), "vec_id", "embedding", "label",
      anchorIds = Seq(0L, 1L, 2L, 3L), k = 5)
      .orderBy(col("anchor_id").asc, col("rank").asc)

  /** x22: retrieval evaluation — per-anchor cosine top-10 over the whole
    * corpus (anchors 0-3, self excluded) scored against same-label
    * relevance: how well does raw cosine retrieve label-mates? The
    * [[evalRanking]] harness over the x19-convention broadcast ranking. */
  def x22RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val emb = embeddings(s, dir).select(col("vec_id"),
      col("embedding").as("_g_v"), col("label").as("_g_l"))
    val anch = emb.filter(col("vec_id").isin(0L, 1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("_g_v").as("_g_qv"),
        col("_g_l").as("_g_al"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id").asc)
    val ranked = emb.join(broadcast(anch), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        round(call_function("vec_cosine", col("_g_v"), col("_g_qv")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
    val qrels = emb.join(broadcast(anch),
        col("_g_l") === col("_g_al") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"))
    evalRanking(ranked, "qid", "rank", "id", qrels, "qid", "id", k = 10)
      .orderBy(col("query_id").asc)
  }

  /** x24: generate-then-rerank — BM25 top-20 candidates re-scored by the
    * batched (stub) pair model, top-10 by model score. The oracle
    * replays the portable md5 stub, so the whole candidate→batch→score
    * plumbing is hash-verified. */
  def x24ModelRerank(s: SparkSession, dir: String): DataFrame = {
    val qText = GateTerms.mkString(" ")
    val cands = bm25Scores(documents(s, dir), "doc_id", "text", GateTerms)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
    val withText = documents(s, dir).select(col("doc_id"), col("text"))
      .join(broadcast(cands.select("doc_id")), "doc_id")
      .withColumn("_g_qid", lit(0L))
      .withColumn("_g_q", lit(qText))
    scoreWithModel(withText, "_g_qid", "doc_id", "_g_q", "text")
      .select(col("doc_id"), round(col("model_score"), 6).as("model_score"))
      .orderBy(col("model_score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** x25: ANN quality quantified — [[evalRanking]] scoring the x7 IVF
    * probe's top-10 against the exact cosine top-10 as ground truth
    * (recall@10 / MRR / nDCG of the approximate index), swept over
    * nprobe ∈ {1, 2}: the accuracy-vs-cost dial every ANN deployment
    * tunes (nprobe 1 loses a neighbor on this corpus, nprobe 2 is
    * lossless), measured with the same oracle-verified metric harness
    * as x22. This sweep keeps the deterministic UNTRAINED first-k
    * geometry; the TRAINED operating point (recall@10 = 0.8 at
    * m=32/k=64) is its own oracle-replayable gate, [[x34TrainedRecall]]. */
  def x25AnnRecall(s: SparkSession, dir: String): DataFrame = {
    // ONE window + ONE evalRanking for all four (path, nprobe) sweeps,
    // keyed by a composite qid — the metric math is per-qid group-wise
    // identical to four separate harness calls, but the plan carries a
    // quarter of the join/agg stages (this gate was the bench's worst
    // pure-scheduling floor once the BPE family was memoized). The
    // unified sort key (-cosine for the raw index, adc_dist for PQ)
    // reproduces each path's exact ranking: negation flips double
    // order bit-exactly and ties still break (qid, id asc).
    val subs = Seq(
      (10L, "ivf", 1), (11L, "ivf", 2), (20L, "ivfpq", 1),
      (21L, "ivfpq", 2))
    val scored = subs.map { case (qid, path, np) =>
      if (path == "ivf")
        IvfAnn.x7SearchAt(s, dir, np)
          .select(lit(qid).as("qid"), col("vec_id").as("id"),
            negate(col("cosine")).as("skey"))
      else
        IvfPq.x15SearchAt(s, dir, np)
          .select(lit(qid).as("qid"), col("vec_id").as("id"),
            col("adc_dist").as("skey"))
    }.reduce(_ unionByName _)
    val ranked = scored.withColumn("rank", row_number()
      .over(Window.partitionBy(col("qid"))
        .orderBy(col("skey").asc, col("id").asc))
      .cast("long"))
    val qrels = SimilarityQueries.x1CosineTopK(s, dir)
      .select(explode(lit(subs.map(_._1).toArray)).as("qid"),
        col("vec_id").as("id"))
    val pathOf = subs.map { case (qid, p, _) => (qid, p) }.toMap
    val npOf = subs.map { case (qid, _, np) => (qid, np.toLong) }.toMap
    evalRanking(ranked, "qid", "rank", "id", qrels, "qid", "id", k = 10)
      .select(
        element_at(typedLit(pathOf), col("query_id")).as("path"),
        element_at(typedLit(npOf), col("query_id")).as("nprobe"),
        col("n_rel"), col("hits"), col("recall"), col("mrr"), col("ndcg"))
      .coalesce(1).sortWithinPartitions(col("path").asc, col("nprobe").asc)
  }

  /** x34: the TRAINED IVF-PQ operating point as an ORACLE-REPLAYABLE
    * gate — the credible recall number a deployment tunes against
    * (m=32/k=64 on 64-dim = 16× compression, recall@10 = 0.8,
    * RetrievalOpsSpec), promoted from a spec-only measurement to a
    * DuckDB-replayed hash-match. The x25 sweep keeps the untrained
    * first-k geometry; this runs the REAL pipeline: L2-normalize (the
    * production recipe — on unit vectors cosine order == L2 order, so
    * ADC's residual-L2 ranking approximates the cosine ground truth) →
    * portable Lloyd's coarse training (8 cells × 3 iters) → portable
    * residual-PQ training (32 subspaces × 64 codes × 3 iters) → encode
    * → ADC probe for vec 0 at nprobe ∈ {2, 8}. "Portable" = every
    * iterated decision quantizes to 6 decimals with pinned tie-breaks
    * ([[IvfAnn.trainCentroids]] doc), which is what makes a trained —
    * not just seeded — index replayable by an external engine.
    * Output: (nprobe, rank, vec_id, adc_dist, hit) — hit marks
    * membership in the exact round-6 cosine top-10; recall@10 =
    * sum(hit)/10 per nprobe, pinned ≥ 0.8 at nprobe=8 by spec. */
  /** L2-normalized embeddings — the x34 production recipe (on unit
    * vectors cosine order == L2 order, so ADC's residual-L2 ranking
    * approximates the cosine ground truth). */
  private def l2NormalizedEmbeddings(s: SparkSession,
      dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    // one fused codegen pass per row ([[graft.functions.VectorKernels
    // .l2normalize]]) — the HOF form `transform(v, x -> x /
    // sqrt(aggregate(v, ...)))` re-evaluates the interpreted aggregate
    // lambda per ELEMENT (O(dim²)/row; ~0.8 s of every x34/x36 scan at
    // sf0.1), with identical left-to-right IEEE arithmetic (spec-held)
    embeddings(s, dir).select(col("vec_id"),
      call_function("vec_l2normalize", col("embedding")).as("v"))
  }

  def x34TrainedRecall(s: SparkSession, dir: String): DataFrame =
    trainedProbeGate(s, dir, "x34", IvfPq.DefaultMaxTrainVectors)

  /** x36: the SAMPLE-TRAINED operating point as an oracle-replayable
    * gate — the x34 pipeline with [[IvfPq.build]]'s `maxTrainVectors`
    * forced below the corpus size (cap = 128), so Lloyd's coarse AND
    * PQ iterations train only on the hash-rate sample
    * ([[IvfPq.trainSampleRate]]: keep vec_id iff
    * md5_prefix28(vec_id) % 10^6 < floor(10^6·128/N) — the d9
    * convention) while cell assignment, residuals and the encode cover
    * every vector. The DuckDB oracle replays the ENTIRE sampled
    * trajectory — membership rule, sampled Lloyd's, sampled PQ, full
    * encode, both probes — so a hash match proves the sampling rule
    * and the sample-trained codebooks are engine-portable, the
    * correctness contract behind training large rungs on a bounded
    * sample (the Faiss convention; VERDICT r13 ask #1). */
  def x36SampleTrained(s: SparkSession, dir: String): DataFrame =
    trainedProbeGate(s, dir, "x36", 128L)

  private def trainedProbeGate(s: SparkSession, dir: String, key: String,
      maxTrainVectors: Long): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val emb = l2NormalizedEmbeddings(s, dir)
    // train ONCE per corpus snapshot and serve from the persisted
    // index (the x15 convention): training is the amortized build-time
    // cost of an ANN deployment — repeated probes of an unchanged
    // corpus must time load + probe, not retrain per query
    val path = SnapshotCache.resolve(s, key, s"$dir/embeddings.parquet") {
      out =>
        val idx = IvfPq.build(emb, "vec_id", "v", nCells = 8, m = 32,
          k = 64, coarseIters = 3, pqIters = 3, portable = true,
          maxTrainVectors = maxTrainVectors)
        try IvfPq.writeIndex(idx, out) finally idx.release()
    }
    // localize once PER SNAPSHOT, not per invocation: each topK
    // collects the parameter-sized cents/codebook, and loading +
    // localizing re-read meta/cents/codebook parquet (3 driver jobs,
    // ~0.5 s of pure per-call floor). A long-lived server holds the
    // localized index resident (localizeIndex doc) — the memo is that
    // residency, keyed on the corpus snapshot like the index path
    // itself (same values, same decisions; only WHEN the parameter-
    // sized tables are pulled changes)
    val idx = SnapshotCache.memo(s, s"${key}_localidx",
      s"$dir/embeddings.parquet") {
      IvfPq.localizeIndex(IvfPq.loadIndex(s, path))
    }
    val q = emb.filter(col("vec_id") === 0L).head().getSeq[Double](1)
    val exact = emb.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        round(call_function("vec_cosine", col("v"), typedLit(q)), 6)
          .as("c"))
      .orderBy(col("c").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val parts = Seq(2, 8).map { np =>
      IvfPq.topK(idx, q, topK = 10, nProbe = np, excludeId = Some(0L),
          portable = true)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("adc_dist").asc, col("pq_id").asc))
          .cast("long"))
        .select(lit(np.toLong).as("nprobe"), col("rank"),
          col("pq_id").as("vec_id"), col("adc_dist"),
          col("pq_id").isin(exact.toSeq: _*).as("hit"))
    }
    parts.reduce(_ unionByName _).orderBy(col("nprobe"), col("rank"))
  }

  /** x26: ordered proximity search — "table hash" within slop 1 (one
    * intervening word allowed) over the same positional index as x23;
    * the widened fold finds strictly more matches than the exact
    * phrase. */
  def x26ProximityMatch(s: SparkSession, dir: String): DataFrame =
    phraseTopK(s, snapshotPosIndexPath(s, dir), Seq("table", "hash"),
        k = 10, slop = 1)
      .select(col("id").as("doc_id"), col("n_occurrences"))

  /** x28: the embedding batch serving path — vec 0/1/2 as a query TABLE
    * through [[EmbeddingOps.cosineTopKBatch]] (broadcast query batch,
    * WindowGroupLimit per query; self ranks first by the API contract). */
  def x28CosineBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("q"), col("v").as("qv"))
    EmbeddingOps.cosineTopKBatch(emb, "vec_id", "v", queries, "q", "qv",
        k = 5)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** x29: the IVF batch serving path — vec 0/1/2 probed through the x7
    * deterministic first-16 centroids ([[EmbeddingOps.ivfTopKBatchWith]]):
    * per-query probe-cell ranking over the broadcast centroid table, the
    * corpus joins the probe list on `cell`, per-query top-5. */
  def x29IvfBatch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val emb = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = emb.filter(col("vec_id") < IvfAnn.K)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val qv = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    EmbeddingOps.ivfTopKBatchWith(emb, "vec_id", cents, qv, k = 5,
        nprobe = 2)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /** x30: mean-average-precision inputs — the x22 anchors/ranking scored
    * with [[averagePrecision]] (per-query AP@10 vs same-label qrels). */
  def x30MapEval(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val emb = embeddings(s, dir).select(col("vec_id"),
      col("embedding").as("_g_v"), col("label").as("_g_l"))
    val anch = emb.filter(col("vec_id").isin(0L, 1L, 2L, 3L))
      .select(col("vec_id").as("qid"), col("_g_v").as("_g_qv"),
        col("_g_l").as("_g_al"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id").asc)
    val ranked = emb.join(broadcast(anch), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        round(call_function("vec_cosine", col("_g_v"), col("_g_qv")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
    val qrels = emb.join(broadcast(anch),
        col("_g_l") === col("_g_al") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"))
    averagePrecision(ranked, "qid", "rank", "id", qrels, "qid", "id",
        k = 10)
      .orderBy(col("query_id").asc)
  }

  /** x20: MMR-diversified rerank of vec 0's top-20 cosine candidates. */
  def x20MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 0).head().getSeq[Double](1)
    mmrRerank(emb.filter(col("vec_id") =!= 0), "vec_id", "v", q,
      n = 20, k = 8)
      .orderBy(col("step").asc)
  }
}
