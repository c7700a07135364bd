package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drives `FaultHarness chaossoak` in a CHILD JVM (the
  * [[FaultToleranceSpec]] mechanism — the retry path needs local[8,3]):
  * ALL THREE chaos axes composed in ONE run of the three concurrent
  * serving loops — task-retry fault injection on every stream, a
  * mid-run interloper writer racing the lexical lease, and the
  * invariance sweep's adversarial config B (3-wide shuffles, 64 KB
  * splits, AQE off). r12 proved each axis separately; this holds their
  * COMPOSITION to the clean batch folds, and fails rather than passing
  * vacuously when no chaos actually fired. */
class ChaosSoakSpec extends AnyFunSuite {

  test("three serving loops under injected retries + interloper + " +
      "adversarial config land the exact clean end states") {
    val (code, s) = ChildJvm.run(580, "graft.FaultHarness", "chaossoak",
      "/root/testdata/sf0.001")
    withClue(s.linesIterator.filter(l =>
        l.contains("CHAOSSOAK") || l.contains("Exception"))
        .mkString("child output:\n", "\n", "\n")) {
      assert(code == 0)
      for (c <- Seq("injection-fired", "loops-compacted",
          "lexical-end-state", "vector-end-state", "admit-end-state"))
        assert(s.contains(s"CHAOSSOAK $c: PASS"), s"check $c did not pass")
    }
  }
}
