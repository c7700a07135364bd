package graft

import org.apache.spark.sql.SparkSession

/** Task-retry fault harness, driven cross-JVM by FaultToleranceSpec and
  * ChaosSoakSpec. local[k] runs with spark.task.maxFailures = 1: a single
  * task failure kills the job, so nothing in the default sessions ever
  * exercises the retry path that is ROUTINE on a real cluster. This main
  * runs on local[8,3] (up to 2 retries per task) and injects attempt-0
  * task failures ([[makeInjector]]); each check prints one
  * `<MODE> <check>: PASS|FAIL` line and the process exits 1 on any FAIL.
  *
  * Usage: runMain graft.FaultHarness <faultinject|chaossoak> <sfDir>
  *  - `faultinject`: each operator family exact under retries, one check
  *    at a time, each required to have retried at least one task;
  *  - `chaossoak`: the three serving loops under retries, an interloper
  *    writer and an adversarial partitioning config, all at once. */
object FaultHarness {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 && Set("faultinject", "chaossoak")(args(0)),
      "usage: FaultHarness <faultinject|chaossoak> <sfDir>")
    val Array(mode, sfDir) = args
    val spark = SparkSession.builder()
      .master("local[8,3]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val checks = new Checks(spark, mode.toUpperCase,
      retryPerCheck = mode == "faultinject")
    if (mode == "faultinject") faultInject(spark, sfDir, checks)
    else chaosSoak(spark, sfDir, checks)
    println(s"${checks.tag} total failures: ${checks.failures}")
    spark.stop()
    if (checks.failures > 0) sys.exit(1)
  }

  /** The PASS/FAIL bookkeeping both modes share, with one failed-task
    * listener. With `retryPerCheck`, a check passes only if its own body
    * retried at least one task: a vacuous pass (injection never fired)
    * proved nothing about the retry path. */
  private final class Checks(spark: SparkSession, val tag: String,
      retryPerCheck: Boolean) {
    val failedTasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.reason != org.apache.spark.Success) {
            failedTasks.incrementAndGet(); ()
          }
      })
    var failures = 0

    /** Block until the listener bus has delivered every event so far. */
    def drain(): Boolean = org.apache.spark.sql.graft.SessionOps
      .drainListeners(spark, 30000L)

    def apply(label: String)(cond: => Boolean): Unit = {
      // drain the async listener bus BEFORE the baseline snapshot and
      // AFTER the body: a sleep-poll that exits on the first delta
      // could credit this check with a PREDECESSOR's late-arriving
      // task-end event (or miss this check's second stage), turning
      // the vacuous-pass detector into noise
      if (retryPerCheck) drain(): Unit
      val before = failedTasks.get()
      val outcome = try Some(cond) catch {
        case scala.util.control.NonFatal(e) =>
          println(s"$tag $label: FAIL (threw ${e.getMessage})")
          e.printStackTrace(); None
      }
      val verdict = outcome.map {
        case false => "FAIL (result diverged)"
        case true if !retryPerCheck => "PASS"
        case true =>
          val drained = drain()
          val injected = failedTasks.get() - before
          if (injected <= 0 || !drained)
            s"FAIL (no task failure injected; busDrained=$drained)"
          else s"PASS (retried $injected)"
      }
      verdict.foreach(v => println(s"$tag $label: $v"))
      if (!verdict.exists(_.startsWith("PASS"))) failures += 1
    }
  }

  /** ALL THREE chaos axes COMPOSED in one run of the three concurrent
    * serving loops (r12 proved each axis separately): task-retry
    * fault injection (local[8,3] + the attempt-0 injector on every
    * stream), a mid-run INTERLOPER writer racing the lexical path's
    * lease, and the invariance sweep's adversarial config B (3-wide
    * shuffles, 64 KB input splits, AQE off) — the closest a
    * single-box harness gets to a bad day on a 1000-executor
    * cluster. Every end state must equal its CLEAN batch fold. */
  private def chaosSoak(spark: SparkSession, sfDir: String,
      check: Checks): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.operators.{CorpusOps, IvfPq, RetrievalOps}
    val injector = makeInjector()
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root = java.nio.file.Files.createTempDirectory("chaossoak")
      .toString
    val nChunks = 20
    def writeFeed(dir: String, parts: Seq[DataFrame]): Unit =
      parts.zipWithIndex.foreach { case (df, i) =>
        val stage = s"$dir/_w$i"
        df.coalesce(1).write.parquet(stage)
        val f = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/$i.parquet"))
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(stage))
        // deterministic batch order: file source lists oldest-first
        new java.io.File(s"$dir/$i.parquet")
          .setLastModified(1000000L + i * 1000L): Unit
      }
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val seed = docs.filter(col("doc_id") < 20)
    writeFeed(s"$root/dfeed", (0 until nChunks).map(i =>
      docs.filter(col("doc_id") >= 20 + i * 24 &&
        col("doc_id") < 20 + (i + 1) * 24)))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    writeFeed(s"$root/vfeed", (0 until nChunks).map(i =>
      Tables.embeddings(spark, sfDir)
        .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"),
          col("label"))
        .filter(col("vec_id") % nChunks === i)))
    val idx = IvfPq.build(emb, "vec_id", "v", nCells = 4,
      coarseIters = 0, pqIters = 0)
    try {
      IvfPq.writeIndex(idx, s"$root/vidx")
      val frozen = IvfPq.loadIndex(spark, s"$root/vidx")
      val codesBefore = frozen.codes.count()
      RetrievalOps.indexCorpus(seed, "doc_id", "text", s"$root/lidx",
        nBuckets = 8)
      // every stream carries the injector downstream of an explicit
      // 8-way repartition (partition 3 exists even under shuffle=3)
      def docStream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").parquet(s"$root/dfeed")
        .repartition(8, col("doc_id"))
        .withColumn("doc_id", injector(col("doc_id")))
      val vecStream = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label STRING")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").parquet(s"$root/vfeed")
        .repartition(8, col("vec_id"))
        .withColumn("vec_id", injector(col("vec_id")))
      // the INTERLOPER: a manual append racing the lexical loop's
      // lease — stops after banking one loud failure (bounds churn)
      val wp = new java.io.File(s"$root/lidx/WRITER")
      val loudFails =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val sneaked = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      @volatile var watch = true
      import spark.implicits._
      val watcher = new Thread(() => {
        var attempt = 0
        while (watch && loudFails.isEmpty) {
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
              case e: IllegalStateException => loudFails.add(e.getMessage)
            }
          }
          Thread.sleep(1)
        }
      })
      // vector + admit loops start first and run throughout; the
      // lexical loop drains under the interloper with
      // restart-on-lease-loss (checkpoint replay)
      val qVec = streaming.DocStreams.appendArrivals(vecStream, frozen,
        s"$root/vidx", s"$root/ckpt_vec", compactEvery = Some(2))
      val qAdm = streaming.DocStreams.admitArrivals(docStream, seed,
        s"$root/adm", s"$root/ckpt_adm", compactEvery = Some(3))
      watcher.start()
      try {
        var drained = false
        var restarts = 0
        while (!drained) {
          val qLex = streaming.DocStreams.indexArrivals(docStream,
            s"$root/lidx", s"$root/ckpt_lex", compactEvery = Some(2))
          try {
            qLex.processAllAvailable()
            drained = true
          } catch {
            case e: org.apache.spark.sql.streaming
                .StreamingQueryException =>
              def leaseLoss(t: Throwable): Boolean = t != null &&
                (Option(t.getMessage).exists(
                  _.contains("another writer holds the lease")) ||
                  leaseLoss(t.getCause))
              if (!leaseLoss(e)) throw e
              restarts += 1
              if (restarts > 10) throw new IllegalStateException(
                "lexical loop could not win the lease back", e)
          } finally qLex.stop()
        }
        qVec.processAllAvailable()
        qAdm.processAllAvailable()
      } finally {
        watch = false
        // loop the join until the interloper actually terminates: a
        // timed-out join with an appendToPostings still in flight
        // would let the thread mutate `sneaked` and the lexical index
        // AFTER the end-state checks snapshot their rebuild corpus —
        // a flaky pass/fail under pathological stalls. 5 min bound;
        // a still-alive thread fails the soak loudly AFTER this
        // finally (not inside it, which would mask a primary
        // exception and skip the queue stops).
        val joinDeadline = System.nanoTime() + 300e9.toLong
        while (watcher.isAlive && System.nanoTime() < joinDeadline)
          watcher.join(30000)
        Seq(qVec, qAdm).foreach(_.stop())
      }
      if (watcher.isAlive) throw new IllegalStateException(
        "chaossoak: interloper thread still alive after 5 min — " +
          "end-state checks would race its mutations; failing loudly")
      check("injection-fired") {
        // no vacuous pass: the chaos actually happened — injected
        // task failures were retried AND the interloper resolved
        check.drain(): Unit
        check.failedTasks.get() > 0 && (!loudFails.isEmpty || !sneaked.isEmpty)
      }
      check("loops-compacted") {
        Seq("lidx", "vidx", "adm").forall { d =>
          new java.io.File(s"$root/$d/CURRENT").exists() &&
          new java.io.File(s"$root/$d/generations").listFiles()
            .count(_.getName.startsWith("g")) <= 2
        }
      }
      check("lexical-end-state") {
        // == one-shot rebuild over full corpus + legally sneaked docs
        import scala.jdk.CollectionConverters._
        val sneakDocs = sneaked.asScala.toSeq.sorted
          .map(id => (id, s"interloper payload $id"))
        val full = docs.unionByName(sneakDocs.toDF("doc_id", "text"))
        RetrievalOps.indexCorpus(full, "doc_id", "text", s"$root/lfull",
          nBuckets = 8)
        val grown = RetrievalOps
          .bm25TopKIndexed(spark, s"$root/lidx", RetrievalOps.GateTerms)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val rebuilt = RetrievalOps
          .bm25TopKIndexed(spark, s"$root/lfull", RetrievalOps.GateTerms)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        grown == rebuilt && grown.nonEmpty
      }
      check("vector-end-state") {
        val after = IvfPq.loadIndex(spark, s"$root/vidx")
        def keyOf(df: DataFrame, id: Long) = df
          .filter(col("pq_id") === id)
          .select(col("cell").cast("long"),
            col("codes").cast("array<int>")).head()
        after.codes.count() == codesBefore * 2 &&
        Seq(3L, 7L, 499L).forall(id =>
          keyOf(after.codes, 500000L + id) == keyOf(after.codes, id))
      }
      check("admit-end-state") {
        // == the sequential CLEAN batch fold over the same 20 chunks
        def admit(existing: DataFrame, b: DataFrame) =
          CorpusOps.deduplicate(
            CorpusOps.exactDeduplicate(
              CorpusOps.dedupeIncrement(existing, b, "doc_id", "text"),
              "doc_id", "text"),
            "doc_id", "text")
        var corpus = seed.collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        (0 until nChunks).foreach { i =>
          val chunk = spark.read.parquet(s"$root/dfeed/$i.parquet")
          corpus = corpus ++ admit(corpus.toDF("doc_id", "text"), chunk)
            .collect().map(r => (r.getLong(0), r.getString(1)))
        }
        val expected = corpus.drop(seed.count().toInt).toSet
        val got = streaming.DocStreams
          .admittedDocs(spark, s"$root/adm", seed.schema)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        got == expected
      }
    } finally idx.release()
    org.apache.hadoop.fs.FileUtil
      .fullyDelete(new java.io.File(root)): Unit
  }

  /** Task-retry exactness: on a 1000-executor cluster task failures are
    * routine (preemption, bad hosts, fetch failures) and Spark's answer
    * is re-running the failed attempt. Every operator therefore has to
    * be exact UNDER retries: a retried map task must not double-emit
    * into a sink, a retried shuffle task must not shift an aggregate,
    * a retried write task's partial file must be discarded by the
    * committer. local[k] never retries (maxFailures=1), so the bench
    * and the oracle gate cannot see a violation — this mode runs under
    * local[8,3] and injects one deliberate attempt-0 task failure into
    * a chosen partition of each operator's input, then asserts the
    * result is IDENTICAL to the clean run. */
  private def faultInject(spark: SparkSession, sfDir: String,
      check: Checks): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val injector = makeInjector()
    def flaky(df: DataFrame, idCol: String): DataFrame =
      df.repartition(8, col(idCol))
        .withColumn(idCol, injector(col(idCol)))
    def clean(df: DataFrame, idCol: String): DataFrame =
      df.repartition(8, col(idCol))
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("faultinject").toString

    check("sink-exactly-once") {
      // write-task retry: the committer must discard attempt 0's file
      clean(docs, "doc_id").write.parquet(s"$tmp/sink_clean")
      flaky(docs, "doc_id").write.parquet(s"$tmp/sink_flaky")
      val a = spark.read.parquet(s"$tmp/sink_clean")
        .orderBy("doc_id").collect().toSeq
      val b = spark.read.parquet(s"$tmp/sink_flaky")
        .orderBy("doc_id").collect().toSeq
      a == b && a.size == 500
    }

    check("shuffle-agg-dedup") {
      // retried map task upstream of the dedup shuffle
      val a = operators.CorpusOps
        .exactDeduplicate(clean(docs, "doc_id"), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      val b = operators.CorpusOps
        .exactDeduplicate(flaky(docs, "doc_id"), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      a == b && a.nonEmpty
    }

    check("minhash-candidates") {
      // banded LSH pair generation: a retried signature task must not
      // shift any band hash
      val a = operators.CorpusOps
        .candidatePairs(clean(docs, "doc_id"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = operators.CorpusOps
        .candidatePairs(flaky(docs, "doc_id"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      a == b && a.nonEmpty
    }

    check("index-build-append-compact") {
      // the full lease-guarded index lifecycle with failures injected
      // into BOTH the initial build's corpus scan and the appended
      // batch: probes over the two indexes must rank bit-for-bit
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      operators.RetrievalOps.indexCorpus(
        clean(base, "doc_id"), "doc_id", "text", s"$tmp/idx_clean")
      operators.RetrievalOps.appendToPostings(
        clean(batch, "doc_id"), "doc_id", "text", s"$tmp/idx_clean",
        batchId = Some(1L))
      operators.RetrievalOps.compactInPlace(spark, s"$tmp/idx_clean")
      operators.RetrievalOps.indexCorpus(
        flaky(base, "doc_id"), "doc_id", "text", s"$tmp/idx_flaky")
      operators.RetrievalOps.appendToPostings(
        flaky(batch, "doc_id"), "doc_id", "text", s"$tmp/idx_flaky",
        batchId = Some(1L))
      operators.RetrievalOps.compactInPlace(spark, s"$tmp/idx_flaky")
      Seq(Seq("window", "join"), Seq("scan", "filter"), Seq("hash"))
        .forall { terms =>
          val a = operators.RetrievalOps.bm25TopKIndexed(
            spark, s"$tmp/idx_clean", terms, k = 20)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val b = operators.RetrievalOps.bm25TopKIndexed(
            spark, s"$tmp/idx_flaky", terms, k = 20)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          a == b && a.nonEmpty
        }
    }

    check("pbf-scan-retry") {
      // a retried task over the custom DSv2 PBF source: blob-split
      // planning must hand the retried attempt the exact byte range and
      // decode path the dead attempt had. The injector sits in the SAME
      // stage as the scan (no shuffle between), so the retried task
      // re-runs the blob decode itself; monaco packs into one split
      // (the 1 MB split floor), so the target partition is 0.
      val monaco = "/root/reference/tests/test_files/monaco.osm.pbf"
      InjectState.part.set(0)
      try {
        val scan = spark.read.format("osmpbf").load(monaco)
          .select(col("kind"), col("id"), col("lat"), col("lon"))
        val a = scan.orderBy("kind", "id").collect().toSeq
        val b = scan.withColumn("id", injector(col("id")))
          .orderBy("kind", "id").collect().toSeq
        a == b && a.size > 10000
      } finally InjectState.part.set(3)
    }

    check("streaming-admit-loop") {
      // a retried task INSIDE a foreachBatch micro-batch, composed with
      // the loop's own replay/lease/compaction machinery (compactEvery=1
      // folds after every commit): the admitted end state must equal the
      // clean loop's over the same two arrival files
      val seed = docs.select("doc_id", "text")
        .filter(col("doc_id") % 5 =!= 0)
      val feed = s"$tmp/feed"
      val feedRows = docs.select("doc_id", "text")
        .filter(col("doc_id") % 5 === 0)
      feedRows.filter(col("doc_id") % 10 === 0)
        .coalesce(1).write.parquet(s"$feed/b0")
      feedRows.filter(col("doc_id") % 10 =!= 0)
        .coalesce(1).write.parquet(s"$feed/b1")
      for ((b, i) <- Seq("b0", "b1").zipWithIndex) {
        val f = new java.io.File(s"$feed/$b").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$feed/$i.parquet"))
        // deterministic batch order: the file source lists oldest-first
        new java.io.File(s"$feed/$i.parquet")
          .setLastModified(1000000L * (i + 1)): Unit
      }
      def runLoop(root: String, inject: Boolean): Seq[(Long, String)] = {
        val src = spark.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet").parquet(feed)
          .repartition(8, col("doc_id"))
        val arrivals =
          if (inject) src.withColumn("doc_id", injector(col("doc_id")))
          else src
        val q = streaming.DocStreams.admitArrivals(arrivals, seed,
          s"$root/adm", s"$root/ckpt", compactEvery = Some(1))
        try q.processAllAvailable() finally q.stop()
        streaming.DocStreams.admittedDocs(spark, s"$root/adm",
            seed.schema)
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .toSeq.sorted
      }
      val a = runLoop(s"$tmp/loop_clean", inject = false)
      val b = runLoop(s"$tmp/loop_flaky", inject = true)
      a == b && a.nonEmpty
    }

    check("streaming-stateful-window") {
      // a retried task INSIDE the stateful aggregation stage: the
      // post-agg injector projects in the SAME task as StateStoreSave
      // (no exchange between), so attempt 0 dies after the store
      // update began — the uncommitted delta must be discarded
      // (store.abort) and the retry must reload the prior state
      // version, or the watermark-closed windows double-count
      def counts(inject: Boolean): Seq[org.apache.spark.sql.Row] = {
        val src = streaming.EventStreams.fileSource(spark,
          s"$sfDir/events.parquet")
        val agg = streaming.EventStreams.tumblingCounts(src)
        val out =
          if (inject) agg.withColumn("n", injector(col("n"))) else agg
        streaming.EventStreams.runToCompletion(out,
            if (inject) "fi_flaky_win" else "fi_clean_win",
            org.apache.spark.sql.streaming.OutputMode.Append)
          .orderBy("window", "event_type").collect().toSeq
      }
      val a = counts(inject = false)
      val b = counts(inject = true)
      a == b && a.nonEmpty
    }

    check("streaming-vec-admit-loop") {
      // the vector sibling: bucketed sign-LSH admission (planes=2,
      // bands=2 — the non-default path with the most moving parts)
      // under retries injected into each micro-batch
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val seed = emb.filter(col("vec_id") % 5 =!= 0)
      val feed = s"$tmp/vfeed"
      val feedRows = emb.filter(col("vec_id") % 5 === 0)
      feedRows.filter(col("vec_id") % 10 === 0)
        .coalesce(1).write.parquet(s"$feed/b0")
      feedRows.filter(col("vec_id") % 10 =!= 0)
        .coalesce(1).write.parquet(s"$feed/b1")
      for ((b, i) <- Seq("b0", "b1").zipWithIndex) {
        val f = new java.io.File(s"$feed/$b").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$feed/$i.parquet"))
        new java.io.File(s"$feed/$i.parquet")
          .setLastModified(1000000L * (i + 1)): Unit
      }
      val embSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>"
      def runLoop(root: String, inject: Boolean): Seq[Long] = {
        val src = spark.readStream
          .schema(embSchema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet").parquet(feed)
          .repartition(8, col("vec_id"))
        val arrivals =
          if (inject) src.withColumn("vec_id", injector(col("vec_id")))
          else src
        val q = streaming.DocStreams.vecAdmitArrivals(arrivals, seed,
          s"$root/adm", s"$root/ckpt", threshold = 0.9,
          compactEvery = Some(1), planes = 2, bands = 2)
        try q.processAllAvailable() finally q.stop()
        streaming.DocStreams.admittedDocs(spark, s"$root/adm",
            seed.schema)
          .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      }
      val a = runLoop(s"$tmp/vloop_clean", inject = false)
      val b = runLoop(s"$tmp/vloop_flaky", inject = true)
      a == b && a.nonEmpty
    }

    org.apache.hadoop.fs.FileUtil
      .fullyDelete(new java.io.File(tmp)): Unit
  }

  private object InjectState {
    val rows = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    /** Which partition the injector kills (driver sets it between checks;
      * local mode shares the singleton with executor threads). */
    val part = new java.util.concurrent.atomic.AtomicInteger(3)
  }

  /** Identity over the id column that kills row 2 of partition
    * [[InjectState.part]] on attempt 0 of every stage that evaluates it
    * (row 2, not later: a streaming micro-batch hash-partitioned 8 ways
    * may only put a handful of rows in the chosen partition); the
    * retried attempt (attemptNumber >= 1) passes every row. Keyed by
    * taskAttemptId (globally unique) so re-used executor threads can't
    * cross-count; nondeterministic so Catalyst cannot duplicate it or
    * push it through the repartition exchange that gives the input its
    * 8 deterministic hash partitions. Shared by both modes. */
  private def makeInjector()
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (id: Long) =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.partitionId() == InjectState.part.get() &&
          tc.attemptNumber() == 0) {
        val n = InjectState.rows.merge(tc.taskAttemptId(), 1L, _ + _)
        if (n == 2L) throw new RuntimeException(
          s"graft-injected task failure stage=${tc.stageId()} " +
            s"part=${tc.partitionId()} attempt=0")
      }
      id
    }.asNondeterministic()
}
