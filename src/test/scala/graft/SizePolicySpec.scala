package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The small-input execution policy: below [[SizePolicy.SmallInputBytes]]
  * a caller's work runs in a session clone with AQE off and ~4 MB of input
  * per reduce partition (floor 4, capped by the caller's width); otherwise
  * in the caller's own session. Needs no vendored fixtures. */
class SizePolicySpec extends AnyFunSuite {

  private lazy val base: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Width = "spark.sql.shuffle.partitions"

  /** A caller session with its own conf: AQE on, 8-wide shuffles. */
  private def caller(): SparkSession = {
    val s = base.newSession()
    s.conf.set(Aqe, "true")
    s.conf.set(Width, "8")
    s
  }

  test("unknown size and sizes at or past the threshold keep the caller's " +
      "own session") {
    val s = caller()
    for (bytes <- Seq(-1L, SizePolicy.SmallInputBytes,
        SizePolicy.SmallInputBytes * 1024))
      assert(SizePolicy.sessionFor("spec", s, bytes) eq s, s"bytes=$bytes")
  }

  test("small inputs get a clone with AQE off and input-sized width; the " +
      "caller's conf is never mutated") {
    val s = caller()
    val before = s.conf.getAll
    val zero = SizePolicy.sessionFor("spec", s, 0L)
    assert(zero ne s)
    assert(zero.conf.get(Aqe) == "false")
    assert(zero.conf.get(Width) == "4")
    val edge = SizePolicy.sessionFor("spec", s, SizePolicy.SmallInputBytes - 1)
    assert(edge ne s)
    assert(edge.conf.get(Aqe) == "false")
    // (256 MB - 1) / 4 MB + 1 = 64 partitions, capped at the caller's 8
    assert(edge.conf.get(Width) == "8")
    // 20 MB at 4 MB per partition
    assert(SizePolicy.sessionFor("spec", s, 20L << 20).conf.get(Width) == "6")
    assert(s.conf.getAll == before)
  }

  test("width: ~4 MB per partition, floor 4, never above the caller's " +
      "width") {
    val mb = 1024L * 1024
    assert(SizePolicy.width(0L, 32L) == 4L)
    assert(SizePolicy.width(4 * mb - 1, 32L) == 4L)
    assert(SizePolicy.width(17 * mb, 32L) == 5L)
    assert(SizePolicy.width(100 * mb, 32L) == 26L)
    assert(SizePolicy.width(100 * mb, 8L) == 8L)
    for {
      callerWidth <- Seq(4L, 8L, 32L, 200L)
      bytes <- Seq(0L, 4 * mb, 17 * mb, 100 * mb, SizePolicy.SmallInputBytes - 1)
    } assert(SizePolicy.width(bytes, callerWidth) <= callerWidth,
      s"bytes=$bytes caller=$callerWidth")
  }

  test("a conversion of a tiny PBF runs in such a clone, caller untouched") {
    val s = caller()
    val dir = java.nio.file.Files.createTempDirectory("sizepolicy").toString
    val path = s"$dir/tiny.osm.pbf"
    pbf.PbfWriter.write((0 until 50).iterator.map { i =>
      pbf.OsmElement("node", i.toLong, Array(("amenity", "bench")), null,
        null, null, 43.7 + i * 1e-4, 7.4 + i * 1e-4)
    }, path)
    val (df, cuts) = osm.OsmPipeline.featuresWithCuts(s, Seq(path))
    try {
      val conv = df.sparkSession
      assert(conv ne s)
      assert(conv.conf.get(Aqe) == "false")
      assert(conv.conf.get(Width) == "4")
      assert(s.conf.get(Aqe) == "true")
      assert(s.conf.get(Width) == "8")
      assert(df.count() == 50L)
    } finally {
      cuts.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
