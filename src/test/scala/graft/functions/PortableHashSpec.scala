package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class PortableHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("md5_prefix28 is bit-identical to conv(substring(md5(s),1,7),16,10)") {
    graft.Graft.setup(spark)
    // ascii, unicode, empty, whitespace, long strings
    val df = spark.range(2000).selectExpr(
      """concat(
           case id % 5
             when 0 then 'plain '
             when 1 then 'ünïcødé–文字 '
             when 2 then ''
             when 3 then ' spaced  out '
             else repeat('x', cast(id % 97 as int))
           end, cast(id as string)) as s""")
    val both = df.selectExpr(
      "md5_prefix28(s) as fast",
      "cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint) as ref")
    assert(both.filter("fast != ref").count() == 0)
  }

  test("interpreted path agrees with codegen") {
    graft.Graft.setup(spark)
    val df = spark.range(500).selectExpr("concat('v', cast(id as string)) as s")
    val gen = df.selectExpr("md5_prefix28(s) as h").collect().map(_.getLong(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.selectExpr("md5_prefix28(s) as h").collect().map(_.getLong(0))
      assert(interp.toSeq == gen.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("kernel matches on a known vector and null stays null") {
    graft.Graft.setup(spark)
    // md5("abc") = 900150983cd24fb0...; first 7 hex digits = 0x900150 9
    assert(PortableHash.md5Prefix28(UTF8String.fromString("abc")) == 0x9001509L)
    val r = spark.sql("select md5_prefix28(cast(null as string)) as h").head()
    assert(r.isNullAt(0))
  }

  test("range stays within 28 bits") {
    val vs = (0 until 1000).map(i =>
      PortableHash.md5Prefix28(UTF8String.fromString(s"s$i")))
    assert(vs.forall(v => v >= 0 && v < (1L << 28)))
  }
}
