package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The serving-layer cache contract: a corpus addressed by a Hadoop
  * FileSystem URI (the cluster deployment shape — `file:` here, standing
  * in for `hdfs://`/`s3a://`, which resolve through the exact same
  * `Path.getFileSystem` call) must REBUILD its index when the corpus
  * changes instead of silently serving the stale one, and builds must
  * run outside the cache's internal locks (reentrancy-safe). */
class SnapshotCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeCorpus(dir: String, rows: Seq[Long]): Unit = {
    import spark.implicits._
    rows.toDF("v").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  test("a changed Hadoop-URI corpus invalidates the cached index") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapcorpus").toString
    // the URI form java.io.File cannot stat — the r8 implementation
    // fingerprinted this as the constant "missing" and never rebuilt
    val corpusUri = s"file:$corpusDir/c.parquet"
    writeCorpus(s"$corpusDir/c.parquet", 0L until 100L)

    var builds = 0
    def serve(): Long = {
      val p = SnapshotCache.resolve(spark, "spectest", corpusUri) { out =>
        builds += 1
        spark.read.parquet(corpusUri).write.parquet(out)
      }
      spark.read.parquet(p).count()
    }
    assert(serve() == 100L && builds == 1)
    assert(serve() == 100L && builds == 1,
      "unchanged corpus must hit the cache")

    writeCorpus(s"$corpusDir/c.parquet", 0L until 150L)
    assert(serve() == 150L,
      "changed corpus must serve fresh results, not the stale index")
    assert(builds == 2, s"changed corpus must rebuild exactly once, got $builds")
  }

  test("memo revalidates a Hadoop-URI input and recomputes on change") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapmemo").toString
    val uri = s"file:$corpusDir/m.parquet"
    writeCorpus(s"$corpusDir/m.parquet", 0L until 10L)
    var computes = 0
    def value(): java.lang.Long = SnapshotCache.memo(spark, "memotest", uri) {
      computes += 1
      java.lang.Long.valueOf(spark.read.parquet(uri).count())
    }
    assert(value() == 10L && computes == 1)
    assert(value() == 10L && computes == 1)
    writeCorpus(s"$corpusDir/m.parquet", 0L until 25L)
    assert(value() == 25L && computes == 2)
  }

  test("a build may reenter the cache (no recursive-update crash)") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapreent").toString
    writeCorpus(s"$corpusDir/r.parquet", 0L until 5L)
    val uri = s"file:$corpusDir/r.parquet"
    // an index build that derives a memoized artifact from the same
    // corpus mid-build — under the previous compute()-held-lock design
    // this threw ConcurrentHashMap's IllegalStateException
    val p = SnapshotCache.resolve(spark, "reenttest", uri) { out =>
      val n = SnapshotCache.memo(spark, "reenttest-inner", uri) {
        java.lang.Long.valueOf(spark.read.parquet(uri).count())
      }
      assert(n == 5L)
      spark.read.parquet(uri).write.parquet(out)
    }
    assert(spark.read.parquet(p).count() == 5L)
  }

  test("a SAME-KEY reentrant build errors instead of self-deadlocking") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapself").toString
    writeCorpus(s"$corpusDir/s.parquet", 0L until 4L)
    val uri = s"file:$corpusDir/s.parquet"
    // a build whose body resolves its OWN key would join its own
    // incomplete future — without the guard that is a silent permanent
    // hang, not an exception anything could catch
    val e = intercept[IllegalStateException] {
      SnapshotCache.resolve(spark, "selftest", uri) { out =>
        SnapshotCache.resolve(spark, "selftest", uri) { out2 =>
          spark.read.parquet(uri).write.parquet(out2)
        }
        spark.read.parquet(uri).write.parquet(out)
      }
    }
    assert(e.getMessage.contains("reentrant"))
    // the failed outer build must not poison the key: a fresh resolve works
    val p = SnapshotCache.resolve(spark, "selftest", uri) { out =>
      spark.read.parquet(uri).write.parquet(out)
    }
    assert(spark.read.parquet(p).count() == 4L)
  }

  test("a failed REBUILD leaves the superseded index directory deleted " +
      "only after its replacement exists (never before the new build)") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapswap").toString
    writeCorpus(s"$corpusDir/w.parquet", 0L until 6L)
    val uri = s"file:$corpusDir/w.parquet"
    var firstPath: String = null
    firstPath = SnapshotCache.resolve(spark, "swaptest", uri) { out =>
      spark.read.parquet(uri).write.parquet(out)
    }
    writeCorpus(s"$corpusDir/w.parquet", 0L until 9L)
    // rebuild that FAILS: the old index files must still be on disk at
    // the moment the build body runs (delete is deferred past success)
    intercept[RuntimeException] {
      SnapshotCache.resolve(spark, "swaptest", uri) { _ =>
        assert(new java.io.File(new java.net.URI("file://" + firstPath))
          .exists() || new java.io.File(firstPath).exists(),
          "superseded index must survive until the replacement build succeeds")
        sys.error("rebuild boom")
      }
    }
    // successful rebuild: serves fresh data and cleans the old root up
    val p2 = SnapshotCache.resolve(spark, "swaptest", uri) { out =>
      spark.read.parquet(uri).write.parquet(out)
    }
    assert(spark.read.parquet(p2).count() == 9L)
  }

  test("a failed build is not cached; the next call retries") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapfail").toString
    writeCorpus(s"$corpusDir/f.parquet", 0L until 3L)
    val uri = s"file:$corpusDir/f.parquet"
    var attempts = 0
    def tryServe(fail: Boolean): String =
      SnapshotCache.resolve(spark, "failtest", uri) { out =>
        attempts += 1
        if (fail) sys.error("boom")
        spark.read.parquet(uri).write.parquet(out)
      }
    intercept[RuntimeException] { tryServe(fail = true) }
    val p = tryServe(fail = false)
    assert(attempts == 2 && spark.read.parquet(p).count() == 3L)
  }

  test("graft.index.workDir places index roots under the configured " +
      "FS dir and rebuild cleanup goes through the FS API") {
    val work = java.nio.file.Files.createTempDirectory("snapwork").toString
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapworkcorpus").toString
    writeCorpus(s"$corpusDir/c.parquet", 0L until 20L)
    val uri = s"file:$corpusDir/c.parquet"
    spark.conf.set(SnapshotCache.WorkDirKey, s"file:$work")
    try {
      def serve(): String =
        SnapshotCache.resolve(spark, "workdirtest", uri) { out =>
          spark.read.parquet(uri).write.parquet(out)
        }
      val p1 = serve()
      assert(p1.contains(work),
        s"index root must live under the configured work dir, got $p1")
      assert(spark.read.parquet(p1).count() == 20L)
      val rootsAfterBuild = new java.io.File(work).listFiles()
        .filter(_.getName.startsWith("graft_workdirtest"))
      assert(rootsAfterBuild.length == 1)
      // a changed corpus rebuilds into a FRESH root under the same work
      // dir and deletes the superseded one — through the Hadoop FS of
      // the configured URI, not java.io (which this spec can't
      // distinguish on file:, but the path flows through fs.delete)
      writeCorpus(s"$corpusDir/c.parquet", 0L until 30L)
      val p2 = serve()
      assert(p2 != p1 && p2.contains(work))
      assert(spark.read.parquet(p2).count() == 30L)
      val rootsAfterRebuild = new java.io.File(work).listFiles()
        .filter(_.getName.startsWith("graft_workdirtest"))
      assert(rootsAfterRebuild.length == 1,
        "exactly one live root per key: the superseded root must be deleted")
      assert(!rootsAfterBuild.head.exists(),
        "the superseded index root must be gone")
    } finally spark.conf.unset(SnapshotCache.WorkDirKey)
  }

  test("a hive-partitioned corpus fingerprints its LEAF files: an " +
      "in-place rewrite that preserves the top-level listing rebuilds") {
    import spark.implicits._
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snappart").toString
    val corpus = s"$corpusDir/p.parquet"
    (0L until 40L).map(i => (i, i % 4)).toDF("v", "pt")
      .repartition(1).write.partitionBy("pt").parquet(corpus)
    var builds = 0
    def serve(): Unit = {
      SnapshotCache.resolve(spark, "parttest", s"file:$corpus") { out =>
        builds += 1
        spark.range(1).write.parquet(out)
      }: Unit
    }
    serve()
    assert(builds == 1)
    serve()
    assert(builds == 1, "unchanged partitioned corpus must hit the cache")
    // rewrite ONE leaf file in place (different length), then restore
    // every DIRECTORY mtime — the old one-level fingerprint (subdir
    // name/len/mtime) sees an identical listing and would serve stale
    val ptDir = new java.io.File(corpus).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pt=")).minBy(_.getName)
    val rootM = new java.io.File(corpus).lastModified()
    val ptM = ptDir.lastModified()
    val leaf = ptDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.write(leaf.toPath,
      ("not a parquet file but a longer payload than before " * 20)
        .getBytes("UTF-8"))
    assert(ptDir.setLastModified(ptM))
    assert(new java.io.File(corpus).setLastModified(rootM))
    serve()
    assert(builds == 2,
      "an in-place leaf rewrite must invalidate the cached index")
  }

  test("concurrent resolves of one key build once; of two keys, in parallel") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("snapconc").toString
    writeCorpus(s"$corpusDir/k.parquet", 0L until 7L)
    val uri = s"file:$corpusDir/k.parquet"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            SnapshotCache.resolve(spark, s"conctest${i % 2}", uri) { out =>
              builds.incrementAndGet()
              spark.read.parquet(uri).write.parquet(out)
            }
        })
      }
      val paths = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get() == 2,
        s"two purposes → exactly two builds, got ${builds.get()}")
      assert(paths.toSet.size == 2)
    } finally pool.shutdownNow()
  }

  test("a file removed while the fingerprint walk runs gives a changed " +
      "fingerprint, not a failed probe") {
    val dir = java.nio.file.Files.createTempDirectory("snapwalk")
    val files = (0 until 300).map(i => dir.resolve(f"part-$i%04d"))
    val bytes = Array[Byte](1, 2, 3)
    files.foreach(java.nio.file.Files.write(_, bytes))
    val before = SnapshotCache.snapshotOf(spark, dir.toString)
    // delete and rewrite files round-robin while the probes walk the
    // directory, so removals land between a walk's listing and its stats
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churn = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val f = files(i % files.size)
        java.nio.file.Files.deleteIfExists(f)
        java.nio.file.Files.write(f, bytes)
        i += 1
      }
    })
    churn.start()
    val probes =
      try {
        val deadline = System.nanoTime() + 3000000000L
        Iterator.continually(SnapshotCache.snapshotOf(spark, dir.toString))
          .takeWhile(_ => System.nanoTime() < deadline).toVector
      } finally { stop.set(true); churn.join() }
    val raced = probes.filter(_.contains(":gone"))
    assert(raced.forall(_ != before))
    info(s"${raced.size} of ${probes.size} probes saw a file removed mid-walk")
    files.foreach(java.nio.file.Files.write(_, bytes))
    val settled = SnapshotCache.snapshotOf(spark, dir.toString)
    assert(!settled.contains(":gone"))
    assert(SnapshotCache.snapshotOf(spark, dir.toString) == settled)
  }

  /** A view over the corpus at `uri` whose builds `builds` counts. */
  private def countedView(s: SparkSession, purpose: String, uri: String,
      builds: java.util.concurrent.atomic.AtomicInteger) =
    SnapshotCache.view(s, purpose, uri) {
      builds.incrementAndGet()
      s.read.parquet(uri).selectExpr("v * 2 AS w")
    }

  private def viewCorpus(prefix: String, n: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    writeCorpus(s"$dir/v.parquet", 0L until n)
    s"file:$dir/v.parquet"
  }

  test("view: a second call in one session does not rebuild") {
    val uri = viewCorpus("snapview", 10L)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val first = countedView(spark, "viewtest", uri, builds)
    assert(first.count() == 10L && builds.get() == 1)
    assert(first.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the view must be registered as cached")
    val second = countedView(spark, "viewtest", uri, builds)
    assert(second.count() == 10L && builds.get() == 1)
  }

  test("view: a changed corpus rebuilds and the old frame is no longer cached") {
    val uri = viewCorpus("snapviewchg", 10L)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(countedView(spark, "viewchg", uri, builds).count() == 10L)
    // the first action filled the lazy cache: its blocks are one RDD
    val oldRdds = sc.getPersistentRDDs.keySet -- before
    assert(oldRdds.nonEmpty, "the first action must fill the view's cache")
    writeCorpus(uri.stripPrefix("file:"), 0L until 15L)
    val fresh = countedView(spark, "viewchg", uri, builds)
    assert(builds.get() == 2, s"a changed corpus must rebuild once, got ${builds.get()}")
    assert((sc.getPersistentRDDs.keySet & oldRdds).isEmpty,
      "the superseded view's cache must be released")
    assert(fresh.count() == 15L, "the rebuilt view must serve the new corpus")
    assert(fresh.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  test("view: a rebuild also releases views cached over the superseded one") {
    val uri = viewCorpus("snapviewcas", 8L)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val outer = SnapshotCache.view(spark, "viewcas_outer", uri) {
      countedView(spark, "viewcas_inner", uri, builds).filter("w > 2")
    }
    assert(outer.count() == 6L)
    val oldRdds = sc.getPersistentRDDs.keySet -- before
    assert(oldRdds.size == 2, "both views' caches must be filled")
    writeCorpus(uri.stripPrefix("file:"), 0L until 12L)
    countedView(spark, "viewcas_inner", uri, builds)
    assert(builds.get() == 2)
    assert((sc.getPersistentRDDs.keySet & oldRdds).isEmpty,
      "rebuilding the inner view must release the outer view cached over it")
  }

  test("view: after an external clearCache the next call rebuilds, cached") {
    val uri = viewCorpus("snapviewclr", 6L)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    assert(countedView(spark, "viewclr", uri, builds).count() == 6L)
    spark.catalog.clearCache()
    val again = countedView(spark, "viewclr", uri, builds)
    assert(builds.get() == 2, "a cleared view must be rebuilt")
    assert(again.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the rebuilt view must be cached again")
    assert(again.count() == 6L)
    countedView(spark, "viewclr", uri, builds)
    assert(builds.get() == 2)
  }

  test("view: two sessions keep separate views") {
    val uri = viewCorpus("snapviewses", 4L)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val other = spark.newSession()
    val a = countedView(spark, "viewses", uri, builds)
    val b = countedView(other, "viewses", uri, builds)
    assert(builds.get() == 2, "each session builds its own view")
    assert(a.count() == 4L && b.count() == 4L)
    val name = a.queryExecution.analyzed.collectFirst {
      case v: org.apache.spark.sql.catalyst.plans.logical.View =>
        v.desc.identifier.table
    }.get
    assert(spark.catalog.tableExists(name) && other.catalog.tableExists(name))
    assert(!spark.newSession().catalog.tableExists(name),
      "the view lives in the calling session's catalog only")
    countedView(spark, "viewses", uri, builds)
    countedView(other, "viewses", uri, builds)
    assert(builds.get() == 2, "each session reuses its own view")
  }

  test("view: concurrent callers of one key build once") {
    val uri = viewCorpus("snapviewconc", 7L)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = countedView(spark, "viewconc", uri, builds).count()
        })
      }
      val counts = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(counts.forall(_ == 7L))
      assert(builds.get() == 1, s"one key → exactly one build, got ${builds.get()}")
    } finally pool.shutdownNow()
  }
}
