package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One span: a layer boundary crossed by the harness (run, pass, operation,
  * layer call) or a Spark job. Times are epoch microseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    var end: Long = -1L)

/** In-memory span recorder for one run; every span carries the run id when
  * written out. Disabled tracers record nothing. */
final class Tracer(val runId: String, var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** A new span; a disabled tracer returns an unrecorded span with id 0. */
  def open(name: String, parent: Int): Span = synchronized {
    val s = Span(if (enabled) spans.size + 1 else 0, parent, name, nowUs())
    if (enabled) spans += s
    s
  }
  def close(s: Span): Unit = s.end = nowUs()
  def add(parent: Int, name: String, startUs: Long, endUs: Long): Unit =
    synchronized { if (enabled) spans += Span(spans.size + 1, parent, name, startUs, endUs) }
  def all: Seq[Span] = synchronized(spans.toList)

  /** `body` inside a span whose Spark jobs carry the span id as job group,
    * so the listener can hang each job under the call that started it. */
  def call[T](sc: SparkContext, name: String, parent: Int)(body: => T): (T, Span) = {
    val s = open(name, parent)
    sc.setJobGroup(s"span:${s.id}", name, interruptOnCancel = false)
    try (body, s)
    finally { close(s); sc.clearJobGroup() }
  }

  def write(path: java.nio.file.Path): Unit = {
    val m = Json.mapper
    val root = m.createObjectNode()
    root.put("run_id", runId)
    val arr = root.putArray("spans")
    all.foreach { s =>
      arr.addObject().put("run_id", runId).put("id", s.id).put("parent", s.parent)
        .put("name", s.name).put("start_us", s.start).put("end_us", s.end)
    }
    java.nio.file.Files.write(path, m.writeValueAsBytes(root))
  }
}

/** Job, stage and task records from Spark's listener bus, keyed by the job
  * group the harness set around each call. Registered only in traced runs. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val stages = ArrayBuffer.empty[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobs += Job(e.jobId, g, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.taskInfo != null && m != null)
      tasks += Task(stageGroup.getOrElse(e.stageId, ""),
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorCpuTime,
        m.jvmGCTime)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += Stage(i.stageId, stageGroup.getOrElse(i.stageId, ""),
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def jobsIn(groups: Set[String]): Seq[Job] = synchronized(jobs.filter(j => groups(j.group)).toList)
  def tasksIn(groups: Set[String]): Seq[Task] = synchronized(tasks.filter(t => groups(t.group)).toList)
  def stagesIn(groups: Set[String]): Seq[Stage] = synchronized(stages.filter(s => groups(s.group)).toList)
  /** Every task that ran at any time inside [fromMs, toMs]. */
  def tasksBetween(fromMs: Long, toMs: Long): Seq[Task] =
    synchronized(tasks.filter(t => t.finish >= fromMs && t.launch <= toMs).toList)
}

object LayerListener {
  final case class Job(id: Int, group: String, start: Long, var end: Long)
  final case class Task(group: String, launch: Long, finish: Long, cpuNs: Long,
      gcMs: Long)
  final case class Stage(id: Int, group: String, shuffleWriteBytes: Long,
      spillBytes: Long)

  /** Wall milliseconds of [fromMs, toMs] during which no task ran. */
  def idleMs(tasks: Seq[Task], fromMs: Long, toMs: Long): Long = {
    val iv = tasks.map(t => (math.max(t.launch, fromMs), math.min(t.finish, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (toMs - fromMs) - covered)
  }
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
