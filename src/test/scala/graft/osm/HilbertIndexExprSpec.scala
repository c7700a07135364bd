package graft.osm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HilbertIndexExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("kernel walks the curve contiguously (adjacent cells differ by 1 step)") {
    // locality property: successive curve positions are neighbors in space
    // directly: d(0,0)=0; curve covers all cells exactly once at any order
    val seen = scala.collection.mutable.Set.empty[Long]
    for (i <- 0 until 256; j <- 0 until 256) {
      val d = HilbertCurve.index(i / 255.0, j / 255.0, 0, 0, 1, 1)
      seen += d
    }
    assert(seen.size > 250 * 250) // near-bijective on the sampled grid
  }

  test("codegen and interpreted paths agree, and match the static kernel") {
    graft.Graft.setup(spark)
    val df = spark.range(1000).selectExpr(
      "cast(id % 37 as double) / 37 as x", "cast(id % 53 as double) / 53 as y")
    val viaExpr = df.selectExpr("x", "y", "hilbert_index(x, y, 0d, 0d, 1d, 1d) as h")
      .collect()
    viaExpr.foreach { r =>
      val expected = HilbertCurve.index(r.getDouble(0), r.getDouble(1), 0, 0, 1, 1)
      assert(r.getLong(2) == expected)
    }
    // interpreted path (codegen disabled) must agree
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.selectExpr("hilbert_index(x, y, 0d, 0d, 1d, 1d) as h").collect()
      assert(interp.map(_.getLong(0)).toSeq ==
        viaExpr.map(_.getLong(2)).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null input yields null, not a crash") {
    graft.Graft.setup(spark)
    val r = spark.sql(
      "select hilbert_index(cast(null as double), 0d, 0d, 0d, 1d, 1d) as h")
      .head()
    assert(r.isNullAt(0))
  }
}
