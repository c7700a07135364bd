package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One gate of the swept set: its operators module (family), the
  * SnapshotCache purposes its first call on a fresh session builds, and its
  * row count from DuckDB over the same data. */
final case class GateSpec(name: String, family: String, indexes: Seq[String],
    expectedRows: Long)

/** `gates_warm`: one pass calls every gate once, in an order drawn from the
  * seed, each fully evaluated (`queryExecution.toRdd` counted, so no output
  * column or sort can be pruned away) and its row count checked. Set-up is
  * one sweep on a fresh session with an empty cache and index dir, which
  * must build exactly the gates' declared indexes and the cached views.
  * Passes then reuse that session and must build nothing. */
final class GateWorkload(ctx: Ctx, dataDir: String, gates: Seq[GateSpec])
    extends Workload {
  import ctx.tracer

  private val fns = SparkEntry.queries
  gates.foreach(g => require(fns.contains(g.name), s"unknown gate ${g.name}"))
  private val rnd = new scala.util.Random(ctx.seed)
  private val indexDir: Path = Files.createDirectories(ctx.work.resolve("index"))
  private val session: SparkSession = ctx.spark.newSession()

  /** Index roots (`graft_<purpose>_<id>`) now under the session's index dir. */
  private def roots(): Set[String] = {
    val s = Files.list(indexDir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_")).toSet
    finally s.close()
  }
  private def purpose(root: String): String =
    root.stripPrefix("graft_").dropRight(14)

  private def runGate(g: GateSpec, parent: Int): (Op, Set[String]) = {
    val before = roots()
    val os = tracer.open(s"gate ${g.name}", parent)
    val (res, secs, ms0, ms1) = ctx.timed(scala.util.Try {
      tracer.call(ctx.sc, s"${g.family}.${g.name}", os.id) {
        val df: DataFrame = fns(g.name)(session, dataDir)
        df.queryExecution.toRdd.count()
      }._1
    })
    tracer.close(os)
    val built = roots() -- before
    built.foreach(r => tracer.add(os.id, s"SnapshotCache build ${purpose(r)}",
      os.start, os.end))
    val cause = res match {
      case scala.util.Success(n) if n == g.expectedRows => None
      case scala.util.Success(n) => Some(s"$n rows, expected ${g.expectedRows}")
      case scala.util.Failure(e) => Some(Harness.describe(e))
    }
    (Op(g.name, g.family, secs, cause.isEmpty, cause.getOrElse(""), os.id, ms0, ms1),
      built)
  }

  private def checkBuilds(what: String, built: Set[String], expected: Set[String]): Option[String] = {
    val got = built.toSeq.map(purpose).sorted
    val want = expected.toSeq.sorted
    if (got == want) None
    else Some(s"$what built [${got.mkString(",")}], expected [${want.mkString(",")}]")
  }

  /** The priming sweep on the fresh session. */
  def setup(): Unit = {
    session.conf.set(graft.operators.SnapshotCache.WorkDirKey, indexDir.toUri.toString)
    session.catalog.clearCache()
    val results = gates.map(runGate(_, 0))
    setupOps ++= results.map(_._1)
    setupInvalid = checkBuilds("set-up sweep", roots(), gates.flatMap(_.indexes).toSet)
  }

  def pass(no: Int, parent: Int): Pass = {
    val before = roots()
    val ps = tracer.open(s"pass $no", parent)
    val order = rnd.shuffle(gates)
    val ((results, cached), secs, ms0, ms1) =
      ctx.timed(ctx.peakCached(order.map(runGate(_, ps.id))))
    tracer.close(ps)
    val built = roots() -- before
    val invalid = checkBuilds(s"warm pass $no", built, Set.empty)
    val ops = results.map(_._1)
    ctx.drain()
    val layer = ctx.listener.fold(Map.empty[String, Double]) { l =>
      val families = Harness.Families.map { f =>
        val fam = results.filter(_._1.family == f)
        val groups = fam.flatMap(r => ctx.groupsUnder(r._1.spanId)).toSet
        Map(s"$f.s" -> fam.filter(_._1.ok).map(_._1.seconds).sum,
          s"$f.jobs" -> l.jobsIn(groups).size.toDouble,
          s"$f.idle_s" -> fam.map { case (o, _) =>
            LayerListener.idleMs(l.tasksBetween(o.startMs, o.endMs), o.startMs, o.endMs)
          }.sum / 1e3,
          s"$f.exec_cpu_s" -> l.tasksIn(groups).map(_.cpuNs).sum / 1e9)
      }.reduce(_ ++ _)
      // the index layer as the pass saw it: roots it built (0 when warm),
      // the size of the index dir it read, and time in gates that built
      ctx.engineLayer(ctx.groupsUnder(ps.id), ms0, ms1, cached) ++ families ++ Map(
        "SnapshotCache.builds" -> built.size.toDouble,
        "SnapshotCache.index_mb" -> Harness.treeBytes(indexDir) / 1048576.0,
        "SnapshotCache.build_gates_s" -> results.filter(_._2.nonEmpty).map(_._1.seconds).sum)
    }
    Pass(secs, ops, invalid, layer)
  }
}
