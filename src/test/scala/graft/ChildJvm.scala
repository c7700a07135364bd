package graft

import scala.sys.process.{Process, ProcessLogger}

/** Runs a main of this build in a CHILD JVM and returns its exit code and
  * merged stdout/stderr. For specs that need their own SparkContext (the
  * suite's shared one runs local[N], where any task failure kills the
  * job, so the task-retry path is only reachable from a separate
  * local[8,3] context). */
object ChildJvm {
  def run(timeoutSec: Int, mainClass: String,
      args: String*): (Int, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // reuse this JVM's --add-opens set (build.sbt injects the JDK17 list
    // Spark needs) instead of duplicating it here
    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val addOpens = {
      val it = scala.jdk.CollectionConverters
        .ListHasAsScala(mx).asScala.iterator
      val out = Seq.newBuilder[String]
      while (it.hasNext) it.next() match {
        case "--add-opens" if it.hasNext =>
          out += "--add-opens" += it.next()
        case a if a.startsWith("--add-opens=") => out += a
        case _ =>
      }
      out.result()
    }
    // hard cap via coreutils timeout: Process.! has no deadline of its
    // own, and a hung child JVM must fail the suite, not wedge it
    val cmd = Seq("timeout", timeoutSec.toString, javaBin) ++ addOpens ++
      Seq(
        "-Xmx4g",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"),
        mainClass) ++ args
    val out = new StringBuilder
    val log = ProcessLogger(
      l => out.synchronized { out.append(l).append('\n'); () },
      l => out.synchronized { out.append(l).append('\n'); () })
    val code = Process(cmd).!(log)
    (code, out.synchronized(out.toString))
  }
}
