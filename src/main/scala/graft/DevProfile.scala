package graft

import org.apache.spark.sql.SparkSession

/** Dev-only gate profiler: runs [[SparkEntry.queries]] gates in one warm
  * JVM, each fully evaluated through `queryExecution.toRdd` (as the
  * perfbench harness does: `.count()` would let Catalyst prune the gate's
  * unrequested columns and its sort).
  *
  * Usage: runMain graft.DevProfile <mode> <sfDir> <reps> <gate[,gate…]>
  *  - `qtime`: time each gate `reps` times (the first call cold, then warm);
  *  - `qstages`: qtime plus a census of the last (warm) rep — jobs,
  *    stages, per-stage wall/executor time/task count — to attribute a
  *    gate's warm cost to scheduling floor vs real stage work;
  *  - `execplan`: run each gate `reps` times, then print its executed plan
  *    (AQE-final: ReusedExchange and skew-join decisions only materialize
  *    in the EXECUTED plan).
  *
  * A comma-separated gate list shares session state (memoized artifacts,
  * snapshot caches) the way the bench does. `SPARK_EXTRA_CONF="k=v;k=v"`
  * sets session confs for conf experiments. The one-off investigation
  * modes of earlier rounds live in PLANS.md and in
  * `git show a83893f:src/main/scala/graft/DevProfile.scala`. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    require(args.length == 4 && Set("qtime", "qstages", "execplan")(args(0)),
      "usage: DevProfile <qtime|qstages|execplan> <sfDir> <reps> <gate[,gate…]>")
    val Array(mode, sfDir, repsArg, gateList) = args
    val reps = repsArg.toInt
    val gates = gateList.split(',').toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // iterative trainers + a 123-query bench generate far more than
      // the default 100 distinct codegen classes; the LRU then cycles
      // completely and EVERY query pays Janino again (Bench.scala doc)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split('=')
      spark.conf.set(k, v)
    })
    def run(gate: String, i: Int): org.apache.spark.sql.DataFrame = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(gate)(spark, sfDir)
      df.queryExecution.toRdd.count()
      println(f"$gate run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      df
    }
    mode match {
      case "qtime" => gates.foreach(g => (1 to reps).foreach(run(g, _)))
      case "execplan" => gates.foreach { g =>
        val df = (1 to reps).map(run(g, _)).last
        println(s"===== $g =====")
        println(df.queryExecution.executedPlan.toString)
      }
      case "qstages" =>
        val stageTimes = new java.util.concurrent.ConcurrentHashMap[
          Int, (String, Long, Long, Int)]()
        val jobs = new java.util.concurrent.atomic.AtomicInteger()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
                : Unit = {
              val si = sc.stageInfo
              stageTimes.put(si.stageId,
                (si.name.takeWhile(_ != '\n').take(70),
                  si.completionTime.getOrElse(0L) -
                    si.submissionTime.getOrElse(0L),
                  si.taskMetrics.executorRunTime, si.numTasks))
            }
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs.incrementAndGet(): Unit
          })
        def drain(): Unit = org.apache.spark.sql.graft.SessionOps
          .drainListeners(spark, 30000L): Unit
        gates.foreach { g =>
          (1 to reps).foreach { i =>
            if (i == reps) { drain(); stageTimes.clear(); jobs.set(0) }
            run(g, i)
          }
          drain()
          import scala.jdk.CollectionConverters._
          val all = stageTimes.asScala.toSeq.sortBy(_._1)
          println(s"  $g warm rep: jobs=${jobs.get} stages=${all.size} " +
            f"sumWall=${all.map(_._2._2).sum}%d ms " +
            f"sumCpu=${all.map(_._2._3).sum}%d ms")
          all.foreach { case (id, (nm, ms, cpu, nt)) =>
            println(f"  stage $id%4d wall=$ms%5d cpu=$cpu%5d tasks=$nt%3d  $nm")
          }
        }
    }
    spark.stop()
  }
}
