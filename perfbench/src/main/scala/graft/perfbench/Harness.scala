package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark harness entry point; `run.py` builds it and drives it.
  *
  * {{{
  * --workload osm_full|gates_warm --seed N
  * --seconds S --trace 0|1 --work DIR --out FILE [--data DIR --gates FILE]
  * --emit-city FILE --seed N        write the city PBF, print its counts
  * --dump-oracle FILE               write SparkEntry.oracleSql as JSON
  * }}}
  *
  * A run: one SparkSession on local[N], set-up (timed), then closed-loop
  * passes until `--seconds` have passed. With `--trace 1` passes alternate
  * between untraced ones and ones with spans and the listener, which gives
  * the per-layer numbers and the tracing overhead. */
object Harness {
  val Families = Seq("RelationalQueries", "TextQueries", "SimilarityQueries",
    "RetrievalOps", "MultimodalOps", "SpatialJoin")

  /** Side of the city grid, in nodes: about 450K elements, enough that the
    * data work is a third of the first conversion, while a traced run's
    * three conversions and probes still fit run.py's time limit. */
  val CitySide = 500

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).linesIterator.nextOption().getOrElse("")}"
      .take(300)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.contains("emit-city")) emitCity(a("emit-city"), a("seed").toLong)
    else if (a.contains("dump-oracle"))
      Files.write(Paths.get(a("dump-oracle")),
        Json.mapper.writeValueAsBytes(graft.SparkEntry.oracleSql.asJava))
    else run(a)
  }

  /** Writes the city PBF and prints the counts an independent decoder
    * must report for it. */
  private def emitCity(path: String, seed: Long): Unit = {
    val city = CityGen.generate(seed, CitySide)
    graft.pbf.PbfWriter.write(city.elements.iterator, path, graft.pbf.PbfWriter.DefaultBlockSize,
      new org.apache.hadoop.conf.Configuration())
    val o = Json.mapper.createObjectNode()
    Seq("node", "way", "relation").foreach { k =>
      val es = city.elements.filter(_.kind == k)
      o.putObject(k).put("count", es.size).put("id_sum", es.map(_.id).sum)
        .put("tags", es.map(e => Option(e.tags).map(_.length).getOrElse(0)).sum)
    }
    o.put("ref_sum", city.elements.filter(_.kind != "node").map(_.refs.sum).sum)
    o.put("full_features", city.fullIds.size)
    println(Json.mapper.writeValueAsString(o))
  }

  private def gateSpecs(gatesFile: String, rowsFile: String): Seq[GateSpec] = {
    val rows = Json.mapper.readTree(new java.io.File(rowsFile)).get("rows")
    Json.mapper.readTree(new java.io.File(gatesFile)).get("gates").elements().asScala
      .map { g =>
        val name = g.get("name").asText()
        require(rows.has(name), s"no expected row count for $name")
        GateSpec(name, g.get("family").asText(),
          g.get("indexes").elements().asScala.map(_.asText()).toSeq,
          rows.get(name).asLong())
      }.toSeq
  }

  private def session(work: Path, cores: Int, dataBytes: Long): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the same static settings and size policy Bench applies
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.shuffle.partitions", cores.toString)
    if (dataBytes >= 0 && dataBytes < graft.osm.OsmPipeline.AqeMinInputBytes) {
      b.config("spark.sql.adaptive.enabled", "false")
      b.config("spark.sql.shuffle.partitions",
        math.max(4L, math.min(dataBytes / (4L * 1024 * 1024) + 1, cores.toLong)).toString)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use after a full GC. A second GC follows a short pause, so the
    * broadcasts and shuffles Spark's cleaner releases once the first GC has
    * cleared their weak references are gone too. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val cores = math.max(1, math.min(a.getOrElse("cores", "4").toInt,
      Runtime.getRuntime.availableProcessors))
    val dataDir = a.get("data").map(d => Paths.get(d).toAbsolutePath)
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = session(work, cores, dataDir.fold(-1L)(treeBytes))
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val tracer = new Tracer(java.util.UUID.randomUUID().toString, enabled = false)
    val ctx = new Ctx(spark, tracer, None, work, seed, cores)
    val (w, workloadS, _, _) = ctx.timed {
      val w: Workload = workload match {
        case "osm_full" => new OsmWorkload(ctx, CitySide)
        case "gates_warm" =>
          new GateWorkload(ctx, dataDir.get.toString, gateSpecs(a("gates"), a("rows")))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      w
    }
    val setupS = sessionS + workloadS

    val untraced = ArrayBuffer.empty[Pass]
    val tracedPasses = ArrayBuffer.empty[Pass]
    var peakHeap = 0.0
    val listener = new LayerListener
    tracer.enabled = traced
    val runSpan = tracer.open(s"run $workload seed $seed", 0)
    tracer.enabled = false
    // A traced run alternates untraced and traced passes, so JIT warm-up
    // over the run biases the overhead as little as it can; it makes at
    // least untraced, traced, untraced, as the first pass is left out of
    // the overhead.
    val t0 = System.nanoTime()
    def more: Boolean =
      untraced.size < (if (traced) 2 else 1) || tracedPasses.size < (if (traced) 1 else 0) ||
        (System.nanoTime() - t0) / 1e9 < seconds
    while (more) {
      val trace = traced && untraced.size > tracedPasses.size
      if (trace) {
        org.apache.spark.GraftBenchAccess.drainListeners(spark.sparkContext)
        spark.sparkContext.addSparkListener(listener)
        ctx.listener = Some(listener)
      }
      tracer.enabled = trace
      val p = w.pass(untraced.size + tracedPasses.size, runSpan.id)
      tracer.enabled = false
      if (trace) {
        spark.sparkContext.removeSparkListener(listener)
        ctx.listener = None
        tracedPasses += p
      } else untraced += p
      peakHeap = math.max(peakHeap, heapAfterGcMb())
    }
    val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      ctx.listener = Some(listener)
      tracer.enabled = true
      val probe = w.probe(runSpan.id, tracedPasses.toSeq)
      tracer.close(runSpan)
      ctx.drain()
      // job spans under the layer call that started them
      listener.jobsIn(tracer.all.map(s => s"span:${s.id}").toSet).foreach { j =>
        tracer.add(j.group.stripPrefix("span:").toInt, s"job ${j.id}",
          j.start * 1000L, math.max(j.start, j.end) * 1000L)
      }
      val keys = tracedPasses.flatMap(_.layer.keys).distinct
      keys.foreach(k => perLayer(k) = Stats.median(tracedPasses.map(_.layer.getOrElse(k, 0.0)).toSeq))
      perLayer ++= probe
      // the first pass of a run can be the JVM's first; it is left out
      perLayer("trace.overhead_frac") =
        Stats.median(tracedPasses.map(_.seconds).toSeq) /
          Stats.median(untraced.drop(1).map(_.seconds).toSeq) - 1.0
      tracer.write(work.resolve(s"trace-$workload-seed$seed.json"))
    }

    val passes = (untraced ++ tracedPasses).toSeq
    val ops = passes.flatMap(_.ops) ++ w.setupOps
    val failures = ops.filterNot(_.ok)
    val invalid = w.setupInvalid.toSeq ++ passes.flatMap(_.invalid)
    val out = Json.mapper.createObjectNode()
    out.put("workload", workload).put("seed", seed)
    out.put("attempted", ops.size).put("failed", failures.size)
    out.put("passes", passes.size)
    val fa = out.putArray("failures")
    failures.groupBy(o => (o.name, o.cause)).toSeq.sortBy(_._1).foreach { case ((n, c), os) =>
      fa.addObject().put("op", n).put("cause", c).put("times", os.size)
    }
    val pt = out.putArray("pass_seconds")
    untraced.foreach(p => pt.add(p.seconds))
    val om = out.putObject("op_median_s")
    passes.flatMap(_.ops).filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1).foreach {
      case (n, os) => om.put(n, Stats.median(os.map(_.seconds)))
    }
    val ia = out.putArray("invalid")
    invalid.distinct.foreach(ia.add)
    val e2e = out.putObject("end_to_end")
    e2e.put("setup_s", setupS)
    // a pass as the sum of each operation's median over the untraced passes
    val okUntraced = untraced.flatMap(_.ops).filter(_.ok)
    if (okUntraced.nonEmpty) e2e.put("pass_s",
      okUntraced.groupBy(_.name).values.map(os => Stats.median(os.map(_.seconds).toSeq)).sum)
    e2e.put("peak_heap_mb", peakHeap)
    val pl = out.putObject("per_layer")
    perLayer.foreach { case (k, v) => pl.put(k, v) }
    try spark.stop() catch { case scala.util.control.NonFatal(_) => () }
    Files.write(Paths.get(a("out")), Json.mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(out))
  }
}
