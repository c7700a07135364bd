package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives `FaultHarness faultinject` in a CHILD JVM ([[ChildJvm]]): the
  * suite's shared SparkContext runs local[N] (spark.task.maxFailures = 1
  * — any task failure kills the job), so the task-RETRY path that is
  * routine on a real cluster can only be exercised by a separate context
  * on local[8,3]. The child injects one attempt-0 task failure into each
  * operator family's input (sink write, dedup shuffle, LSH banding, the
  * full lease-guarded index build/append/compact lifecycle) and asserts
  * results identical to the clean run; a check whose injection never
  * fired FAILS rather than passing vacuously. */
class FaultToleranceSpec extends AnyFunSuite {

  test("operators are exact under injected task retries (local[8,3])") {
    val (code, s) = ChildJvm.run(480, "graft.FaultHarness", "faultinject",
      "/root/testdata/sf0.001")
    withClue(s.linesIterator.filter(l =>
        l.contains("FAULTINJECT") || l.contains("Exception"))
        .mkString("child output:\n", "\n", "\n")) {
      assert(code == 0)
      for (c <- Seq("sink-exactly-once", "shuffle-agg-dedup",
          "minhash-candidates", "index-build-append-compact",
          "pbf-scan-retry", "streaming-admit-loop",
          "streaming-stateful-window", "streaming-vec-admit-loop"))
        assert(s.contains(s"FAULTINJECT $c: PASS"),
          s"check $c did not pass")
    }
  }
}
