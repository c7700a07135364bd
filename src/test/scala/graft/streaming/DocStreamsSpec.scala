package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming corpus pipeline held to its batch twins on the same
  * bounded data (the EventStreamsSpec convention). sf0.001's synthetic
  * ingest timeline spans ~500 s, inside every watermark used here, so
  * the streaming results must match batch EXACTLY. */
class DocStreamsSpec extends AnyFunSuite {
  private val Dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def batchDocs = graft.Tables.documents(spark, Dir)
  private def stream = DocStreams.fileSource(spark, s"$Dir/documents.parquet")

  test("streaming IVF-PQ encode against a frozen snapshot equals batch") {
    import graft.operators.IvfPq
    val emb = graft.Tables.embeddings(spark, Dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val idx = IvfPq.build(emb, "vec_id", "v", nCells = 4,
      coarseIters = 0, pqIters = 0)
    try {
      // freeze: write + load — the arrivals are scored against the
      // PERSISTED snapshot, the real steady-state serving shape
      val path = java.nio.file.Files.createTempDirectory("enc").toString +
        "/idx"
      IvfPq.writeIndex(idx, path)
      val frozen = IvfPq.loadIndex(spark, path)
      def keyOf(r: org.apache.spark.sql.Row) =
        r.getLong(0) -> (r.getAs[Number](1).longValue(),
          r.getSeq[Number](2).map(_.intValue()).toList)
      val got = EventStreams.runToCompletion(
        DocStreams.encodeArrivals(
          DocStreams.vecFileSource(spark, s"$Dir/embeddings.parquet"),
          frozen),
        "vec_encode")
        .select("pq_id", "cell", "codes").collect().map(keyOf).toMap
      val expected = idx.codes
        .select("pq_id", "cell", "codes").collect().map(keyOf).toMap
      assert(got.nonEmpty && got == expected)
    } finally idx.release()
  }

  test("streaming append commits arrivals into the persisted index") {
    import graft.operators.IvfPq
    val emb = graft.Tables.embeddings(spark, Dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val idx = IvfPq.build(emb, "vec_id", "v", nCells = 4,
      coarseIters = 0, pqIters = 0)
    try {
      val root = java.nio.file.Files.createTempDirectory("encs").toString
      IvfPq.writeIndex(idx, s"$root/idx")
      val frozen = IvfPq.loadIndex(spark, s"$root/idx")
      val before = frozen.codes.count()
      // re-ingest the whole table under shifted ids THROUGH THE STREAM,
      // committing each micro-batch via foreachBatch
      val arrivals = DocStreams
        .vecFileSource(spark, s"$Dir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + 500000L)
      val q = DocStreams.appendArrivals(arrivals, frozen, s"$root/idx",
        s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      val after = IvfPq.loadIndex(spark, s"$root/idx")
      assert(after.codes.count() == before * 2)
      // a shifted twin carries exactly its original's codes and cell
      def keyOf(df: org.apache.spark.sql.DataFrame, id: Long) = df
        .filter(col("pq_id") === id)
        .select(col("cell").cast("long"),
          col("codes").cast("array<int>")).head()
      assert(keyOf(after.codes, 500007L) == keyOf(after.codes, 7L))
    } finally idx.release()
  }

  test("streaming vector append with compactEvery folds generations and " +
      "serves exact codes") {
    import graft.operators.IvfPq
    val emb = graft.Tables.embeddings(spark, Dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val idx = IvfPq.build(emb, "vec_id", "v", nCells = 4,
      coarseIters = 0, pqIters = 0)
    try {
      val root = java.nio.file.Files.createTempDirectory("encc").toString
      IvfPq.writeIndex(idx, s"$root/idx")
      val frozen = IvfPq.loadIndex(spark, s"$root/idx")
      val before = frozen.codes.count()
      val arrivals = DocStreams
        .vecFileSource(spark, s"$Dir/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + 500000L)
      // compact after EVERY micro-batch — maximal churn for the
      // pointer flip + the localized encoder reference tables
      val q = DocStreams.appendArrivals(arrivals, frozen, s"$root/idx",
        s"$root/ckpt", compactEvery = Some(1))
      try q.processAllAvailable() finally q.stop()
      assert(new java.io.File(s"$root/idx/CURRENT").exists(),
        "at least one auto-compaction must have run")
      val after = IvfPq.loadIndex(spark, s"$root/idx")
      assert(after.codes.count() == before * 2)
      def keyOf(df: org.apache.spark.sql.DataFrame, id: Long) = df
        .filter(col("pq_id") === id)
        .select(col("cell").cast("long"),
          col("codes").cast("array<int>")).head()
      assert(keyOf(after.codes, 500007L) == keyOf(after.codes, 7L))
      assert(new java.io.File(s"$root/idx/generations").listFiles()
        .count(_.getName.startsWith("g")) <= 2)
    } finally idx.release()
  }

  test("streaming PII scrub matches the batch scrub row for row") {
    val got = EventStreams.runToCompletion(
      DocStreams.scrubbed(stream).select("doc_id", "text", "n_emails", "n_ips"),
      "doc_scrub")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val expected = graft.operators.CorpusOps.scrubPii(batchDocs, "text")
      .select("doc_id", "text", "n_emails", "n_ips")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("streaming postings ingestion: probes equal a full rebuild") {
    import graft.operators.RetrievalOps
    val root = java.nio.file.Files.createTempDirectory("sidx").toString
    // base index over the even docs; the odd docs arrive via the stream
    val base = batchDocs.filter(col("doc_id") % 2 === 0)
    RetrievalOps.indexCorpus(base, "doc_id", "text", s"$root/idx",
      nBuckets = 8)
    val arrivals = stream.filter(col("doc_id") % 2 === 1)
    val q = DocStreams.indexArrivals(arrivals, s"$root/idx", s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()
    val grown = RetrievalOps
      .bm25TopKIndexed(spark, s"$root/idx", RetrievalOps.GateTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    RetrievalOps.indexCorpus(batchDocs, "doc_id", "text", s"$root/full",
      nBuckets = 8)
    val rebuilt = RetrievalOps
      .bm25TopKIndexed(spark, s"$root/full", RetrievalOps.GateTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(grown == rebuilt && grown.nonEmpty)
  }

  test("streaming postings ingestion with compactEvery folds generations " +
      "and keeps probes exact") {
    import graft.operators.RetrievalOps
    val root = java.nio.file.Files.createTempDirectory("sidxc").toString
    val base = batchDocs.filter(col("doc_id") % 2 === 0)
    RetrievalOps.indexCorpus(base, "doc_id", "text", s"$root/idx",
      nBuckets = 8)
    val arrivals = stream.filter(col("doc_id") % 2 === 1)
    // threshold 1: every committed micro-batch triggers a fold — the
    // maximal-churn case for the pointer flip + replay guard
    val q = DocStreams.indexArrivals(arrivals, s"$root/idx", s"$root/ckpt",
      compactEvery = Some(1))
    try q.processAllAvailable() finally q.stop()
    assert(new java.io.File(s"$root/idx/CURRENT").exists(),
      "at least one auto-compaction must have run")
    val grown = RetrievalOps
      .bm25TopKIndexed(spark, s"$root/idx", RetrievalOps.GateTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    RetrievalOps.indexCorpus(batchDocs, "doc_id", "text", s"$root/full",
      nBuckets = 8)
    val rebuilt = RetrievalOps
      .bm25TopKIndexed(spark, s"$root/full", RetrievalOps.GateTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(grown == rebuilt && grown.nonEmpty)
    // generation listings stay flat: current + at most one superseded
    assert(new java.io.File(s"$root/idx/generations").listFiles()
      .count(_.getName.startsWith("g")) <= 2)
  }

  test("streaming tokenization equals the d38 batch encode bit-for-bit") {
    val vocab = graft.operators.CorpusOps
      .wordpieceVocab(batchDocs, "text", topK = 100)
    val got = EventStreams.runToCompletion(
      DocStreams.tokenizeArrivals(stream, vocab), "doc_tokenize")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    val expected = graft.operators.CorpusOps
      .encodeIds(batchDocs, "doc_id", "text", vocab, extraCols = Seq("lang"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("streaming packer emits d39's complete sequences, partials stay in state") {
    val vocab = graft.operators.CorpusOps
      .wordpieceVocab(batchDocs, "text", topK = 100)
    val L = 128
    val got = EventStreams.runToCompletion(
      DocStreams.packArrivals(stream, vocab, L).toDF(), "doc_pack")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getSeq[Int](3))).toMap
    val enc = graft.operators.CorpusOps.encodeIds(batchDocs, "doc_id",
      "text", vocab, extraCols = Seq("lang"))
    val batch = graft.operators.CorpusOps
      .packTokenIds(enc, "doc_id", "lang", "ids", L, vocab.size)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getSeq[Int](3))).toMap
    // the stream emits exactly the COMPLETE batch rows (each shard's
    // trailing partial is unfinished work held in state, not output)
    val completed = batch.filter(_._2._1 == L)
    assert(got == completed && got.nonEmpty)
    assert(batch.size > completed.size, "spec needs at least one partial")
  }

  test("streaming dedup of a self-unioned feed keeps d2's unique count") {
    val doubled = stream.union(stream)
    val got = EventStreams.runToCompletion(
      DocStreams.dedupedDocs(doubled), "doc_dedup")
    val nUnique = graft.operators.TextQueries.d2DedupSurvivors(spark, Dir)
      .head().getLong(0)
    assert(got.count() == nUnique)
    assert(got.groupBy("content_h").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("windowed language profile matches the batch window aggregation") {
    // the synthetic timeline spans only ~500 s, so a 10-minute watermark
    // would close no window at all in append mode — use 1 minute
    val got = EventStreams.runToCompletion(
      DocStreams.langProfile(stream, watermark = "1 minute"), "doc_lang")
    val expected = batchDocs
      .withColumn("ingest_ts",
        timestamp_seconds(lit(1700000000L) + col("doc_id")))
      .groupBy(window(col("ingest_ts"), "2 minutes"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))
    assert(got.count() > 0)
    assert(got.join(expected,
      Seq("window", "lang", "n_docs", "total_chars", "max_chars"),
      "inner").count() == got.count())
  }

  test("streaming BM25 arrival scoring equals the batch scorer bit-for-bit") {
    val terms = Seq("vector", "hash", "join")
    val path = java.nio.file.Files.createTempDirectory("bmidx_s").toString + "/idx"
    graft.operators.RetrievalOps.indexCorpus(batchDocs, "doc_id", "text", path)
    val (n, sumDl, dfs) = graft.operators.RetrievalOps.frozenStats(
      spark, path, terms)
    val got = EventStreams.runToCompletion(
      DocStreams.scoreArrivals(stream, terms, n, sumDl, dfs)
        .select("doc_id", "bm25"), "doc_bm25")
      .filter(col("bm25") > 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = graft.operators.RetrievalOps.bm25Scores(
      batchDocs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("streaming model scoring equals the batch scorer row for row") {
    val got = EventStreams.runToCompletion(
      DocStreams.modelScoreArrivals(stream, "vector hash join"),
      "doc_model")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val expected = graft.operators.RetrievalOps.scoreWithModel(
      batchDocs.withColumn("_g_qid", lit(0L))
        .withColumn("_g_q", lit("vector hash join")),
      "_g_qid", "doc_id", "_g_q", "text")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("streaming ingest admit equals the batch dedupeIncrement (d27 split)") {
    // existing corpus = doc_id % 5 != 0 (static), increment = the rest
    // (streamed); the map-side-signature stream gate must admit exactly
    // the ids the batch operator admits
    val existing = batchDocs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
    val increment = stream.filter(pmod(col("doc_id"), lit(5L)) === 0)
    val got = EventStreams.runToCompletion(
      DocStreams.admitNew(increment, existing), "doc_admit")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = graft.operators.CorpusOps.dedupeIncrement(
        existing, batchDocs.filter(pmod(col("doc_id"), lit(5L)) === 0),
        "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
    // the gate must actually reject something, or the twin proves nothing
    assert(got.size < batchDocs
      .filter(pmod(col("doc_id"), lit(5L)) === 0).count())
  }

  test("ingest admit against an empty existing corpus admits everything") {
    // the cold-start case: no digests, no signature buckets — every
    // left-outer probe misses and the coalesce(false) path must admit
    val empty = batchDocs.filter(lit(false))
    val someDocs = stream.filter(col("doc_id") < 50)
    val got = EventStreams.runToCompletion(
      DocStreams.admitNew(someDocs, empty), "doc_admit_empty")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = batchDocs.filter(col("doc_id") < 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("self-growing admit loop: batch-3 admissions reject their batch-7 " +
      "re-crawl, accumulated corpus equals the batch d27 fold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sadmit").toString
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "the quick brown fox jumps over the lazy dog while rain " +
      "falls on the quiet grey town every single autumn evening"
    val tBnear = "the quick brown fox jumps over the lazy dog while rain " +
      "falls on the quiet grey town every single autumn morning"
    val tC = "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    val tE = "one two three four five six seven eight nine ten eleven"
    val tF = "red orange yellow green blue indigo violet cyan magenta " +
      "amber coral jade pearl slate bronze copper silver golden brass iron"
    val tFnear = "red orange yellow green blue indigo violet cyan magenta " +
      "amber coral jade pearl slate bronze copper silver golden brass steel"
    val seed = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    // two feed files = two micro-batches (maxFilesPerTrigger = 1);
    // batch 0 carries an exact seed dup, a near seed dup, a new doc
    // with its within-batch exact copy, and a within-batch NEAR-dup
    // pair (admission must not depend on those two arriving together
    // vs one batch apart — min-id survives either way); batch 1
    // re-crawls the batch-0 ADMISSION (the property the static-gate
    // twin cannot test) plus one genuinely new doc
    val feed = s"$root/feed"
    Seq((10L, tA), (11L, tBnear), (12L, tC), (13L, tC), (14L, tF),
      (15L, tFnear))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/b0")
    Seq((20L, tC), (21L, tE))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$feed/b1")
    val f0 = new java.io.File(s"$feed/b0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f1 = new java.io.File(s"$feed/b1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f0.toPath,
      java.nio.file.Paths.get(s"$feed/0.parquet"))
    java.nio.file.Files.move(f1.toPath,
      java.nio.file.Paths.get(s"$feed/1.parquet"))
    // deterministic batch order: the file source lists oldest-first
    new java.io.File(s"$feed/0.parquet").setLastModified(1000000L)
    new java.io.File(s"$feed/1.parquet").setLastModified(2000000L)
    val arrivals = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(feed)
    // compactEvery = 1: every commit folds — the loop must stay exact
    // through the generational churn, like its index siblings
    val q = DocStreams.admitArrivals(arrivals, seed, s"$root/adm",
      s"$root/ckpt", compactEvery = Some(1))
    try q.processAllAvailable() finally q.stop()
    val got = DocStreams.admittedDocs(spark, s"$root/adm", seed.schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the loop must equal the batch fold over the same two batches
    // (same composition: the d27 increment admit against seed ∪
    // admitted-so-far FIRST, then the within-batch exact + near-dup
    // collapse among the survivors — filter-then-collapse, the order
    // that keeps pair admission independent of batch chunking)
    import graft.operators.CorpusOps
    def admit(existing: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      CorpusOps.deduplicate(
        CorpusOps.exactDeduplicate(
          CorpusOps.dedupeIncrement(existing, b, "doc_id", "text"),
          "doc_id", "text"),
        "doc_id", "text")
    val b0 = Seq((10L, tA), (11L, tBnear), (12L, tC), (13L, tC),
      (14L, tF), (15L, tFnear)).toDF("doc_id", "text")
    val b1 = Seq((20L, tC), (21L, tE)).toDF("doc_id", "text")
    val adm0 = admit(seed, b0)
    val adm1 = admit(seed.unionByName(adm0), b1)
    val expected = adm0.unionByName(adm1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected, s"got $got expected $expected")
    // and the fold admitted exactly the three novel texts: the exact
    // dup, the near dup, the within-batch copy, the within-batch
    // near-dup's younger member and the re-crawl all rejected
    assert(got == Set((12L, tC), (14L, tF), (21L, tE)), got.toString)
    // the generational layout is live: CURRENT points at a fold and
    // the folded generation carries the consolidated docs relation
    assert(new java.io.File(s"$root/adm/CURRENT").exists())
    // the signature store is live: the seed was shingled ONCE into
    // seed_sig, every admitted row carries its store columns through
    // the fold, and the stored signatures are bit-identical to a fresh
    // signatureStore over the same documents — so no batch ever needs
    // the accumulated TEXT to admit against
    assert(new java.io.File(s"$root/adm/seed_sig/_GRAFT_COMMIT").exists())
    val aroot = graft.operators.IndexLayout.activeRoot(spark, s"$root/adm")
    val stored = spark.read.parquet(s"$aroot/docs")
    assert(stored.columns.toSet ==
      Set("doc_id", "text", "_g_adm_digest", "_g_adm_sig"))
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[scala.collection.Seq[Long]]
          .toSeq))).toSet
    val storedSigs = sigSet(stored.select(
      col("doc_id"), col("_g_adm_digest"), col("_g_adm_sig")))
    val freshSigs = sigSet(CorpusOps.signatureStore(
      DocStreams.admittedDocs(spark, s"$root/adm", seed.schema),
      "doc_id", "text"))
    assert(storedSigs == freshSigs,
      s"stored $storedSigs vs fresh $freshSigs")
    // and the user-facing read PRUNES the signature columns at the
    // scan (explicit-schema read): downstream jobs never pay for them
    val scan = DocStreams.admittedDocs(spark, s"$root/adm", seed.schema)
      .queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      scan)
  }

  test("an admit loop resumed with different signature parameters " +
      "fails loudly instead of comparing incompatible hash families") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sadmpar").toString
    val seed = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val feed = s"$root/feed"
    Seq((10L, "one two three four five six seven"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(feed)
    def arrivals = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("pathGlobFilter", "*.parquet").parquet(feed)
    val q1 = DocStreams.admitArrivals(arrivals, seed, s"$root/adm",
      s"$root/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    // same checkpoint (lineage guard passes), new batch, ngram drift:
    // stored signatures were built at ngram=3 — silently banding them
    // against ngram=2 signatures would degrade near-dup checks to noise
    Seq((11L, "eight nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(feed)
    val q2 = DocStreams.admitArrivals(arrivals, seed, s"$root/adm",
      s"$root/ckpt", ngram = 2)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(err).exists(m => m != null &&
      m.contains("signature store")), chain(err).mkString(" | "))
  }

  test("self-growing vector admit loop: cosine re-crawls reject, " +
      "accumulated corpus equals the batch x33 fold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("svadm").toString
    def v(xs: Float*) = xs.toSeq
    val seed = Seq((1L, v(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    // batch 0: an exact copy of the seed vector (cos 1.0), a near-dup
    // of it (cos ≈ 0.99), a novel vector X and X's within-batch
    // near-dup (filter-then-collapse keeps min id); batch 1: a
    // re-crawl of the batch-0 ADMISSION plus one genuinely novel
    val feed = s"$root/feed"
    Seq((10L, v(1f, 0f, 0f, 0f)), (11L, v(0.95f, 0.1f, 0f, 0f)),
      (12L, v(0f, 1f, 0f, 0f)), (13L, v(0.05f, 0.98f, 0f, 0f)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$feed/b0")
    Seq((20L, v(0f, 0.99f, 0.05f, 0f)), (21L, v(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$feed/b1")
    // flatten to feed/<i>.parquet with pinned mtimes: the file source
    // lists one directory level, oldest-first (as the text loop test)
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$feed/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$feed/$i.parquet"))
      new java.io.File(s"$feed/$i.parquet")
        .setLastModified(1000000L * (i + 1)): Unit
    }
    val arrivals = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(feed)
    val q = DocStreams.vecAdmitArrivals(arrivals, seed, s"$root/adm",
      s"$root/ckpt", threshold = 0.9, compactEvery = Some(1))
    try q.processAllAvailable() finally q.stop()
    val got = DocStreams.admittedDocs(spark, s"$root/adm", seed.schema)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the loop must equal the batch x33 composition over the same two
    // batches (filter vs seed ∪ admitted-so-far, then collapse within)
    import graft.operators.EmbeddingOps
    def admit(existing: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      EmbeddingOps.collapseVectors(
        EmbeddingOps.admitVectors(existing, b, "vec_id", "embedding", 0.9),
        "vec_id", "embedding", 0.9)
    val b0 = Seq((10L, v(1f, 0f, 0f, 0f)), (11L, v(0.95f, 0.1f, 0f, 0f)),
      (12L, v(0f, 1f, 0f, 0f)), (13L, v(0.05f, 0.98f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val b1 = Seq((20L, v(0f, 0.99f, 0.05f, 0f)), (21L, v(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val adm0 = admit(seed, b0)
    val adm1 = admit(seed.unionByName(adm0), b1)
    val expected = adm0.unionByName(adm1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"got $got expected $expected")
    // exactly the two novel directions: the exact copy, the seed
    // near-dup, the within-batch near-dup and the re-crawl all rejected
    assert(got == Set(12L, 21L), got.toString)
    // generational fold ran (compactEvery = 1) and the reader resolves it
    assert(new java.io.File(s"$root/adm/CURRENT").exists())
  }

  test("BUCKETED vector admit loop (planes=8, bands=2): end state " +
      "equals the exact loop's on a recall-1.0 corpus, through " +
      "generational churn") {
    // real 64-dim vectors (the hyperplane dimension contract): seed =
    // 400 corpus vectors; batch 0 = 10 exact re-crawls (cosine 1.0 —
    // identical sign projections co-bucket at ANY planes: recall 1.0
    // by construction) + 5 novel; batch 1 re-crawls a batch-0
    // admission + 1 novel
    val emb = graft.Tables.embeddings(spark, Dir)
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("svadmb").toString
    val seed = emb.filter(col("vec_id") < 400)
    val feed = s"$root/feed"
    emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") >= 400 && col("vec_id") < 405)
        .select((col("vec_id") + 2000L).as("vec_id"), col("embedding")))
      .coalesce(1).write.parquet(s"$feed/b0")
    emb.filter(col("vec_id") === 400) // admitted as 2400 in batch 0
      .select((col("vec_id") + 3000L).as("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === 410)
        .select((col("vec_id") + 4000L).as("vec_id"), col("embedding")))
      .coalesce(1).write.parquet(s"$feed/b1")
    (0 to 1).foreach { i =>
      val f = new java.io.File(s"$feed/b$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$feed/$i.parquet"))
      new java.io.File(s"$feed/$i.parquet")
        .setLastModified(1000000L * (i + 1)): Unit
    }
    def arrivals = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(feed)
    // threshold 0.999: ONLY the exact re-crawls reject (the synthetic
    // corpus has no distinct pair that high), so exact and bucketed
    // paths provably agree — what this pins is the WHOLE bucketed loop
    // (banded candidate generation inside lineage/replay/compaction)
    val qb = DocStreams.vecAdmitArrivals(arrivals, seed, s"$root/admB",
      s"$root/ckptB", threshold = 0.999, compactEvery = Some(1),
      planes = 8, bands = 2)
    try qb.processAllAvailable() finally qb.stop()
    val qe = DocStreams.vecAdmitArrivals(arrivals, seed, s"$root/admE",
      s"$root/ckptE", threshold = 0.999, compactEvery = Some(1))
    try qe.processAllAvailable() finally qe.stop()
    def ids(p: String) = DocStreams.admittedDocs(spark, p, seed.schema)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val (bucketed, exact) = (ids(s"$root/admB"), ids(s"$root/admE"))
    assert(bucketed == exact, s"bucketed $bucketed vs exact $exact")
    // every exact re-crawl rejected, every novel admitted
    assert(exact == Set(2400L, 2401L, 2402L, 2403L, 2404L, 4410L),
      exact.toString)
  }

  test("a second stream (different checkpoint) pointed at a live admit " +
      "path fails loudly instead of having its batches swallowed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("sadmid").toString
    val seed = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    Seq((10L, "one two three four five six seven"))
      .toDF("doc_id", "text").coalesce(1).write
      .parquet(s"$root/feed")
    def arrivals = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("pathGlobFilter", "*.parquet").parquet(s"$root/feed")
    val q1 = DocStreams.admitArrivals(arrivals, seed, s"$root/adm",
      s"$root/ckptA")
    try q1.processAllAvailable() finally q1.stop()
    // a NEW checkpoint restarts batch ids at 0 — without the lineage
    // guard its first batches would be silently treated as replays
    val q2 = DocStreams.admitArrivals(arrivals, seed, s"$root/adm",
      s"$root/ckptB")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(err).exists(m => m != null && m.contains("checkpointed")),
      chain(err).mkString(" | "))
  }

  test("SOAK: indexArrivals + appendArrivals + admitArrivals run " +
      "CONCURRENTLY in one session for 20 micro-batches each with low " +
      "compactEvery; every end state equals its batch fold and no " +
      "cached frame survives shutdown") {
    // the deployment shape is several loops sharing a SparkSession:
    // this drives all three against distinct paths through 60 total
    // micro-batch commits and ~30 interleaved compaction folds, so the
    // snapshot caches, localized encoder frames, per-batch persists
    // and pointer flips run under real concurrency — any interaction
    // (cache eviction, persisted-frame pressure, flip races) surfaces
    // as an end-state mismatch or a leaked cache entry
    import graft.operators.{CorpusOps, IvfPq, RetrievalOps}
    val root = java.nio.file.Files.createTempDirectory("soak").toString
    val nChunks = 20
    def writeFeed(dir: String,
        parts: Seq[org.apache.spark.sql.DataFrame]): Unit =
      parts.zipWithIndex.foreach { case (df, i) =>
        val stage = s"$dir/_w$i"
        df.coalesce(1).write.parquet(stage)
        val f = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/$i.parquet"))
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(stage))
        // deterministic batch order: the file source lists oldest-first
        new java.io.File(s"$dir/$i.parquet")
          .setLastModified(1000000L + i * 1000L): Unit
      }
    // docs feed: ids >= 20 in 20 range-chunks (seed/base = ids < 20)
    val docs = batchDocs.select(col("doc_id"), col("text"))
    val seed = docs.filter(col("doc_id") < 20)
    writeFeed(s"$root/dfeed", (0 until nChunks).map(i =>
      docs.filter(col("doc_id") >= 20 + i * 24 &&
        col("doc_id") < 20 + (i + 1) * 24)))
    // vector feed: the whole table re-ingested under shifted ids
    val emb = graft.Tables.embeddings(spark, Dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    writeFeed(s"$root/vfeed", (0 until nChunks).map(i =>
      graft.Tables.embeddings(spark, Dir)
        .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"),
          col("label"))
        .filter(col("vec_id") % nChunks === i)))
    val idx = IvfPq.build(emb, "vec_id", "v", nCells = 4,
      coarseIters = 0, pqIters = 0)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      IvfPq.writeIndex(idx, s"$root/vidx")
      val frozen = IvfPq.loadIndex(spark, s"$root/vidx")
      val codesBefore = frozen.codes.count()
      RetrievalOps.indexCorpus(seed, "doc_id", "text", s"$root/lidx",
        nBuckets = 8)
      def docStream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").parquet(s"$root/dfeed")
      val vecStream = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label STRING")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").parquet(s"$root/vfeed")
      // all three START before any drains: the commits interleave
      val qLex = DocStreams.indexArrivals(docStream, s"$root/lidx",
        s"$root/ckpt_lex", compactEvery = Some(2))
      val qVec = DocStreams.appendArrivals(vecStream, frozen,
        s"$root/vidx", s"$root/ckpt_vec", compactEvery = Some(2))
      val qAdm = DocStreams.admitArrivals(docStream, seed, s"$root/adm",
        s"$root/ckpt_adm", compactEvery = Some(3))
      try {
        qLex.processAllAvailable()
        qVec.processAllAvailable()
        qAdm.processAllAvailable()
      } finally Seq(qLex, qVec, qAdm).foreach(_.stop())
      // every loop actually folded (the churn under test happened)
      Seq("lidx", "vidx", "adm").foreach { d =>
        assert(new java.io.File(s"$root/$d/CURRENT").exists(),
          s"$d never compacted")
        assert(new java.io.File(s"$root/$d/generations").listFiles()
          .count(_.getName.startsWith("g")) <= 2, s"$d listing not flat")
      }
      // LEXICAL end state == a one-shot rebuild over the full corpus
      val grown = RetrievalOps
        .bm25TopKIndexed(spark, s"$root/lidx", RetrievalOps.GateTerms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      RetrievalOps.indexCorpus(docs, "doc_id", "text", s"$root/lfull",
        nBuckets = 8)
      val rebuilt = RetrievalOps
        .bm25TopKIndexed(spark, s"$root/lfull", RetrievalOps.GateTerms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(grown == rebuilt && grown.nonEmpty)
      // VECTOR end state: every shifted twin carries its original's
      // codes + cell, total doubled
      val after = IvfPq.loadIndex(spark, s"$root/vidx")
      assert(after.codes.count() == codesBefore * 2)
      def keyOf(df: org.apache.spark.sql.DataFrame, id: Long) = df
        .filter(col("pq_id") === id)
        .select(col("cell").cast("long"),
          col("codes").cast("array<int>")).head()
      Seq(3L, 7L, 499L).foreach(id =>
        assert(keyOf(after.codes, 500000L + id) == keyOf(after.codes, id)))
      // ADMIT end state == the sequential batch fold over the same
      // 20 chunks (the d27 composition, filter-then-collapse)
      def admit(existing: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        CorpusOps.deduplicate(
          CorpusOps.exactDeduplicate(
            CorpusOps.dedupeIncrement(existing, b, "doc_id", "text"),
            "doc_id", "text"),
          "doc_id", "text")
      import spark.implicits._
      var corpus = seed.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      (0 until nChunks).foreach { i =>
        val chunk = spark.read.parquet(s"$root/dfeed/$i.parquet")
        // pin each fold on the driver (tiny here): 20 chained admits
        // over lazy plans would re-run the whole cascade per action,
        // and localCheckpoint would trip the leak check below
        corpus = corpus ++ admit(corpus.toDF("doc_id", "text"), chunk)
          .collect().map(r => (r.getLong(0), r.getString(1)))
      }
      val expected = corpus.drop(seed.count().toInt).toSet
      val got = DocStreams.admittedDocs(spark, s"$root/adm", seed.schema)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expected,
        s"admit diverged: extra=${got -- expected} missing=${expected -- got}")
    } finally idx.release()
    // no loop strands a cached frame: every per-batch persist was
    // released, the localized encoder held only driver-local arrays
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("SOAK with an INTERLOPER: a manual appendToPostings racing a " +
      "live indexArrivals loop either fails loudly naming the holder " +
      "(mid-mutation) or commits as a legal between-batch single-writer " +
      "mutation — never interleaves; the loop's end state is exact") {
    // THE operational story the writer lease was built for: an operator
    // fires a manual append against a path a streaming loop owns. The
    // lease admits exactly one writer per mutation, so every attempt
    // resolves to one of two clean outcomes — a loud IllegalStateException
    // naming the live holder, or a committed whole mutation between the
    // loop's batches. If the INTERLOPER wins a race, the LOOP's own batch
    // fails loudly instead; resuming from the checkpoint replays it
    // idempotently (the batchId replay machinery) — also exercised here.
    import graft.operators.RetrievalOps
    val root = java.nio.file.Files.createTempDirectory("soakint").toString
    val nChunks = 12
    val docs = batchDocs.select(col("doc_id"), col("text"))
    val seed = docs.filter(col("doc_id") < 20)
    (0 until nChunks).foreach { i =>
      val stage = s"$root/feed/_w$i"
      docs.filter(col("doc_id") >= 20 + i * 40 &&
          col("doc_id") < 20 + (i + 1) * 40)
        .coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$root/feed/$i.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(stage))
      new java.io.File(s"$root/feed/$i.parquet")
        .setLastModified(1000000L + i * 1000L): Unit
    }
    RetrievalOps.indexCorpus(seed, "doc_id", "text", s"$root/lidx",
      nBuckets = 8)
    val wp = new java.io.File(s"$root/lidx/WRITER")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sneaked = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var watch = true
    import spark.implicits._
    val watcher = new Thread(() => {
      var attempt = 0
      // stop once one loud failure is banked (bounds churn); keep
      // polling at 1 ms so an attempt lands inside some batch's
      // lease-held window (holds dominate each batch's wall time)
      while (watch && failures.isEmpty) {
        if (wp.exists()) {
          val id = 990000L + attempt
          attempt += 1
          try {
            RetrievalOps.appendToPostings(
              Seq((id, s"interloper payload $id"))
                .toDF("doc_id", "text"),
              "doc_id", "text", s"$root/lidx")
            sneaked.add(id)
          } catch {
            case e: IllegalStateException => failures.add(e.getMessage)
          }
        }
        Thread.sleep(1)
      }
    })
    def feedStream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(s"$root/feed")
    watcher.start()
    try {
      // drain with checkpoint resume: if the interloper wins a race the
      // loop's batch fails loudly — restart from the SAME checkpoint
      // and the replay guard re-runs it idempotently
      var drained = false
      var restarts = 0
      while (!drained) {
        val q = DocStreams.indexArrivals(feedStream, s"$root/lidx",
          s"$root/ckpt", compactEvery = Some(2))
        try {
          q.processAllAvailable()
          drained = true
        } catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            def leaseLoss(t: Throwable): Boolean = t != null &&
              (Option(t.getMessage).exists(
                _.contains("another writer holds the lease")) ||
                leaseLoss(t.getCause))
            assert(leaseLoss(e), s"loop died for a non-lease reason: $e")
            restarts += 1
            assert(restarts <= 10, "loop could not win the lease back")
        } finally q.stop()
      }
    } finally {
      watch = false
      watcher.join(30000)
    }
    // the interloper was exercised: at least one attempt resolved, and
    // every loud failure names the lease AND the live holder's label
    assert(!failures.isEmpty || !sneaked.isEmpty, "watcher never fired")
    failures.forEach { m =>
      assert(m.contains("another writer holds the lease"), m)
      assert(m.contains("appendToPostings") || m.contains("compactInPlace"),
        s"failure must name the loop's mutation: $m")
    }
    // END STATE EXACT: the loop's corpus + whatever the interloper
    // legally committed between batches — nothing lost, nothing torn
    import scala.jdk.CollectionConverters._
    val sneakDocs = sneaked.asScala.toSeq.sorted
      .map(id => (id, s"interloper payload $id"))
    val full = docs.filter(col("doc_id") < 20 + nChunks * 40)
      .unionByName(sneakDocs.toDF("doc_id", "text"))
    RetrievalOps.indexCorpus(full, "doc_id", "text", s"$root/lfull",
      nBuckets = 8)
    val grown = RetrievalOps
      .bm25TopKIndexed(spark, s"$root/lidx", RetrievalOps.GateTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = RetrievalOps
      .bm25TopKIndexed(spark, s"$root/lfull", RetrievalOps.GateTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(grown == rebuilt && grown.nonEmpty,
      s"end state diverged (sneaked=${sneakDocs.map(_._1)}, " +
        s"failures=${failures.size})")
  }

  test("streaming contamination flags equal the d10 batch decontamination") {
    graft.Graft.setup(spark)
    // the d10 split: benchmark = doc_id % 97 == 0, corpus = the rest
    val benchGrams = batchDocs.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select(explode(call_function("word_ngrams", col("text"), lit(3)))
        .as("g"))
      .select(call_function("md5_prefix28", col("g")).as("shash"))
      .distinct()
    val corpusStream = stream.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
    val got = EventStreams.runToCompletion(
      DocStreams.contaminationFlags(corpusStream, benchGrams), "doc_contam")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = graft.operators.TextQueries.d10Decontaminate(spark, Dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("split assignment and epoch upsampling run unchanged on a stream") {
    // both corpus-assembly ops are stateless maps (the plan contract
    // their specs assert), so the SAME CorpusOps call works on a
    // streaming frame — no twin implementation needed; held to batch
    val splits = Seq(("train", 96L), ("val", 2L), ("test", 2L))
    val gotSplit = EventStreams.runToCompletion(
      graft.operators.CorpusOps.splitCorpus(stream, "doc_id", splits, 7L)
        .select("doc_id", "split"), "doc_split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expSplit = graft.operators.CorpusOps
      .splitCorpus(batchDocs, "doc_id", splits, 7L)
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotSplit == expSplit && gotSplit.nonEmpty)
    val gotUp = EventStreams.runToCompletion(
      graft.operators.CorpusOps.upsampleEpochs(stream, "doc_id", "text", lit(250L))
        .select("doc_id", "copy"), "doc_upsample")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expUp = graft.operators.CorpusOps
      .upsampleEpochs(batchDocs, "doc_id", "text", lit(250L))
      .select("doc_id", "copy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotUp == expUp && gotUp.nonEmpty)
  }
}
