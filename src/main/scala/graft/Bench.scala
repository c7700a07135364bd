package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // NTZ-encoded events timestamps read identically on any host
      // (Tables.normalizeTs precondition)
      .config("spark.sql.session.timeZone", "UTC")
      // The 123-query bench plus the iterative trainers generate far
      // more distinct whole-stage classes than the default 100-entry
      // codegen cache holds; once the LRU cycles, EVERY query pays
      // Janino again (~10-100 ms each, and a cycling cache also defeats
      // warm-rep comparability). Static conf — must be set before the
      // context starts. Profiled on x34 (PLANS.md, "Two silent codegen
      // pathologies"): with the
      // default cache the 6-iteration IVF-PQ build recompiled every
      // plan every iteration (compiles +130/rep); at 5000 entries
      // compiles drop to ~0 after rep 1.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Serving gates (x15/x21/x23/x25/x26/x31…) resolve their persisted
    // index roots through SnapshotCache.resolve. Point the work dir at
    // a NON-DEFAULT file: URI, as a cluster deployment would point it
    // at hdfs://…: every gate then exercises the Hadoop-FS workDir
    // machinery (qualified roots, FS-native recursive deletes) under
    // load, not just in SnapshotCacheSpec — and the bench measures the
    // path a real deployment runs. Overridable for experiments.
    if (spark.conf.getOption(operators.SnapshotCache.WorkDirKey).isEmpty) {
      val wd = java.nio.file.Files.createTempDirectory("graft_bench_wd")
      spark.conf.set(operators.SnapshotCache.WorkDirKey,
        wd.toUri.toString)
      // the work dir is ours alone (fresh temp dir, this JVM) — remove
      // it on exit so persisted index snapshots don't accumulate on
      // disk across bench runs. Shutdown hook, not finally: the bench
      // ends via spark.stop()/System exit paths and a hook covers all
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try org.apache.commons.io.FileUtils.deleteDirectory(wd.toFile)
        catch { case scala.util.control.NonFatal(_) => () }))
    }
    // The engine's small-input execution policy (graft.SizePolicy has
    // the measurements), applied to the bench's own session: below
    // ~256 MB of input, AQE's per-query-stage materialization jobs cost
    // more than runtime re-planning saves, and a 17 MB sf dir shuffled
    // 32 ways runs near-empty reduce tasks whose fixed cost dominates
    // the whole bench — the per-gate floor, ×125. A 100 TB deployment is
    // far above the threshold and keeps AQE on and the full width; this
    // just applies the same policy to the bench scale instead of
    // hardcoding either choice.
    try {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      val dirBytes =
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally walk.close()
      SizePolicy.tune("Bench", spark.conf, dirBytes)
    } catch { case scala.util.control.NonFatal(_) => () }
    // JVM warmup (untimed): exercise classloading, Janino/whole-stage
    // codegen, higher-order-function evaluation, hash aggs, broadcast +
    // shuffle joins, windows, and the parquet reader once, so the first
    // timed query isn't charged for one-time JIT — standard benchmark
    // practice. Synthetic inputs only; touches none of the queries'
    // cached state.
    try {
      import org.apache.spark.sql.functions._
      val base = spark.range(0, 200000)
        .select(col("id"), concat(lit("w "), col("id") % 1000, lit(" y")).as("s"))
      val hashed = base
        .select(col("id"), split(col("s"), " ").as("arr"))
        .select(col("id"), explode(transform(col("arr"),
          x => conv(substring(md5(x), 1, 7), 16, 10).cast("long"))).as("h"))
        .groupBy((col("id") % 97).as("k"))
        .agg(min("h").as("mn"), collect_set("h").as("st"))
      hashed.count()
      val dim = spark.range(0, 97).select(col("id").as("k"), (col("id") * 2).as("v"))
      hashed.join(broadcast(dim), Seq("k")).count()
      import org.apache.spark.sql.expressions.Window
      base.select(col("id"), row_number().over(
        Window.partitionBy(col("id") % 31).orderBy(col("id"))).as("rn")).count()
      Tables.lineitem(spark, sfDir).select("l_orderkey").limit(1).count()
      // warm the PBF scan + conversion + GeoParquet code path on a
      // 200-element synthetic file (PbfWriter) — compiles the same
      // generated classes the timed monaco conversion uses
      val tiny = java.nio.file.Files.createTempDirectory("graftwarm").toString
      val elems = (0 until 200).map { i =>
        pbf.OsmElement("node", i.toLong, Array(("warm", "1")), null, null,
          null, 1.0 + i * 1e-4, 2.0 + i * 1e-4)
      } ++ Seq(
        pbf.OsmElement("way", 1000L, Array(("highway", "x")),
          (0L until 5L).toArray, null, null, Double.NaN, Double.NaN))
      pbf.PbfWriter.write(elems.iterator, s"$tiny/warm.osm.pbf")
      val (wf, wcuts) = osm.OsmPipeline.featuresWithCuts(spark,
        Seq(s"$tiny/warm.osm.pbf"), osm.OsmPipeline.Options())
      osm.GeoParquet.write(wf, s"$tiny/out", singleFile = true, sortSpatially = true)
      wcuts.release()
      // run every gate query once against a 5000-row copy of each input
      // table: identical schemas → identical generated classes, and enough
      // rows that the hot generated methods cross the C2 JIT threshold →
      // the timed pass measures steady-state execution, not Janino
      // compiles or interpreted-bytecode warmup (a 50-row warmup compiled
      // the classes but left them interpreted; first timed runs were up to
      // 30× steady state). Different directory, so nothing data-dependent
      // (cached views, result caches) leaks into the timed pass.
      try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      catch { case scala.util.control.NonFatal(_) => }
      val warmDir = java.nio.file.Files.createTempDirectory("graftwarmtab").toString
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").limit(5000)
          .coalesce(1).write.parquet(s"$warmDir/$t.parquet")
        catch { case scala.util.control.NonFatal(_) => () } // missing table only skips its queries
      }
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () } // warmup must never abort the bench
    // Drop every cached frame the warmup left behind (snapshot views for
    // the warmup directory, any library-internal state): the timed pass
    // must start with an empty CacheManager, not under the memory/GC
    // pressure of orphaned warmup blocks. Timed-pass caches (the sfDir
    // snapshot views shared by x2/x4/x8 etc.) rebuild lazily on first
    // use — that cost is part of the measured work, as it should be.
    try spark.catalog.clearCache()
    catch { case scala.util.control.NonFatal(_) => () }
    System.gc()
    // deterministic alphabetical order — timings comparable across rounds.
    // PER-GATE MEDIAN of `reps` back-to-back runs: this host shows
    // ±35-45% ambient variance on single captures (PLANS.md r9 note —
    // four same-day captures of identical code spanned 46-87 s), so a
    // single-rep artifact is untrustworthy as a number. The first rep
    // carries any once-per-snapshot build (x15/x21/x23/x31 index
    // builds, d26's annotated view); later reps measure the warm
    // serving path — the median is the steady-state cost, and the
    // rep-1 map is kept alongside so the cold/build cost stays visible.
    // tolerant parse: a malformed env var must not abort the bench
    // after the (expensive) warmup already ran — fall back to 3
    val reps = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3")
        .trim.toInt).getOrElse(3))
    // true median: even counts average the two middle samples (taking
    // the upper-middle would systematically report the MAX at reps=2)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // a gate that throws in any rep is reported in `failed` and left out
    // of both totals: its time is not the time of an answer
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val timed = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case scala.util.control.NonFatal(_) => if (!failed.contains(name)) failed += name
        }
        (System.nanoTime() - t0) / 1e9
      }
      (name, times)
    }
    val results = timed.map { case (n, ts) => n -> median(ts) }
    val rep1 = timed.map { case (n, ts) => n -> ts.head }
    def sumOk(xs: Seq[(String, Double)]): Double =
      xs.collect { case (n, v) if !failed.contains(n) => v }.sum
    // 4-decimal seconds: halves the JSON line length (84 queries) so
    // driver-side log tailing cannot clip the head of the line
    def fmt(v: Double): String = f"$v%.4f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = sumOk(results)
    // The reference's core workload, timed as its own metric (kept out of
    // the queries total so round-over-round totals stay comparable):
    // full monaco PBF -> sorted single-file GeoParquet conversion.
    val monaco = "/root/reference/tests/test_files/monaco.osm.pbf"
    val pbfSec =
      if (new java.io.File(monaco).exists()) {
        val runs = (0 until reps).map { i =>
          val out = java.nio.file.Files.createTempDirectory("graftbench")
            .toString + s"/monaco$i"
          val t0 = System.nanoTime()
          try {
            val (f, fcuts) = osm.OsmPipeline.featuresWithCuts(spark, Seq(monaco),
              osm.OsmPipeline.Options())
            // release in finally: a write failure must not leave the persisted
            // cuts pinned in the CacheManager while the timed queries run
            try osm.GeoParquet.write(f, out, singleFile = true, sortSpatially = true)
            finally fcuts.release()
            (System.nanoTime() - t0) / 1e9
          } catch { case scala.util.control.NonFatal(_) => -1.0 }
        }
        if (runs.contains(-1.0)) { failed += "pbf_monaco_convert"; -1.0 }
        else median(runs)
      } else -1.0
    // totals appear at BOTH ends of the line: the r7 driver artifact kept
    // the line's tail and clipped its head (losing "value"), so a
    // truncated capture from either side still carries the summary
    val coldTotal = sumOk(rep1)
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val qs1 = rep1.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":$qs,"pbf_monaco_convert_sec":${fmt(pbfSec)},""" +
      s""""sf":"$sfDir","n_queries":${results.size},"reps":$reps,""" +
      s""""queries_rep1":$qs1,"cold_total_sec":${fmt(coldTotal)},""" +
      s""""total_sec":${fmt(total)},"failed":$failedJson}"""
    // stop the session BEFORE the contract lines print: nothing Spark
    // can log late (shutdown, temp-dir cleanup) may land after the final
    // JSON line a last-line parser reads
    try spark.stop() catch { case scala.util.control.NonFatal(_) => () }
    println(line)
    // The driver's per-query parse has returned `parsed: null` every
    // round since r12 even though a complete summary object sat inside
    // its 2 KB stdout tail — the one thing that object could never be is
    // the LAST LINE of stdout: sbt logged program output as
    // "[info] {...}" and appended its own "[success] Total time" line
    // after it. build.sbt now routes the forked run's stdout through
    // unprefixed (outputStrategy := StdoutOutput) and suppresses the
    // [success] trailer (showSuccess := false), so the line below — the
    // final one-line JSON, WITH the per-query median map as the r15
    // verdict's item 2 orders — is the actual last line of stdout and
    // parses under a plain last-line json.loads. Additions-only: every
    // key the old summary line carried is still present; the full line
    // above (medians + rep-1 map) still prints first and still lands in
    // BENCH_local.json.
    val slow = results.sortBy(-_._2).take(8)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""sf":"$sfDir","n_queries":${results.size},"reps":$reps,""" +
      s""""total_sec":${fmt(total)},"cold_total_sec":${fmt(coldTotal)},""" +
      s""""pbf_monaco_convert_sec":${fmt(pbfSec)},""" +
      s""""queries":$qs,"queries_rep1":$qs1,""" +
      s""""slowest":$slow,"failed":$failedJson,"full":"BENCH_local.json"}""")
    // belt-and-braces against driver-side stdout truncation: the same
    // line lands in the repo as a file artifact too
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_local.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    System.out.flush()
  }
}
