package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation of a pass: a gate or a conversion. A failed
  * operation carries its cause and is left out of every latency. */
final case class Op(name: String, family: String, seconds: Double,
    ok: Boolean, cause: String, spanId: Int, startMs: Long, endMs: Long)

/** What a pass did, as the harness observed it from outside the engine. */
final case class Pass(seconds: Double, ops: Seq[Op], invalid: Option[String],
    layer: Map[String, Double])

/** A workload: set up once (timed as `setup_s`), then closed-loop passes,
  * one operation at a time. `probe` adds per-layer numbers in traced runs. */
trait Workload {
  /** Operations run during set-up; checked and reported with the rest. */
  val setupOps = scala.collection.mutable.ArrayBuffer.empty[Op]
  /** Why set-up made the run invalid, if it did. */
  var setupInvalid: Option[String] = None
  def setup(): Unit
  def pass(no: Int, parent: Int): Pass
  def probe(parent: Int, passes: Seq[Pass]): Map[String, Double] = Map.empty
}

final class Ctx(val spark: SparkSession, val tracer: Tracer,
    var listener: Option[LayerListener], val work: java.nio.file.Path,
    val seed: Long, val cores: Int) {
  def sc = spark.sparkContext

  /** Seconds and epoch ms around `body`. */
  def timed[T](body: => T): (T, Double, Long, Long) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, ms0, System.currentTimeMillis())
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (listener.isDefined)
    org.apache.spark.GraftBenchAccess.drainListeners(sc)

  /** Spark-engine numbers for all tasks and jobs inside [fromMs, toMs]. */
  def engineLayer(groups: Set[String], fromMs: Long, toMs: Long,
      cachedMb: Double): Map[String, Double] = listener match {
    case None => Map.empty
    case Some(l) =>
      val tasks = l.tasksBetween(fromMs, toMs)
      val stages = l.stagesIn(groups)
      val wallMs = math.max(1L, toMs - fromMs)
      Map(
        "spark.jobs" -> l.jobsIn(groups).size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.idle_s" -> LayerListener.idleMs(tasks, fromMs, toMs) / 1e3,
        "spark.exec_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "spark.busy_frac" ->
          tasks.map(t => t.finish - t.launch).sum.toDouble / (wallMs * cores),
        "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1048576.0,
        "spark.spill_mb" -> stages.map(_.spillBytes).sum / 1048576.0,
        "spark.cached_mb" -> cachedMb)
  }

  /** Job groups of every span below (and including) `root`. */
  def groupsUnder(root: Int): Set[String] = {
    val spans = tracer.all
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root).map(id => s"span:$id").toSet
  }

  /** Storage memory + disk held by cached RDDs and frames, in MB. */
  def cachedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Samples [[cachedMb]] every 50 ms while `body` runs; returns the peak. */
  def peakCached[T](body: => T): (T, Double) = {
    if (listener.isEmpty) return (body, 0.0)
    @volatile var peak = 0.0
    @volatile var running = true
    val t = new Thread(() => while (running) {
      peak = math.max(peak, cachedMb())
      Thread.sleep(50)
    })
    t.setDaemon(true)
    t.start()
    val r = try body finally { running = false; t.join() }
    (r, math.max(peak, cachedMb()))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
