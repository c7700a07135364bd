package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: registered st_* functions, hilbert_index, and plain
  * spark.sql over the osmpbf source + testdata views. */
class SqlSurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("st_* UDFs work from SQL") {
    graft.osm.GeomUdfs.register(spark)
    val r = spark.sql(
      """SELECT st_astext(st_point_wkb(7.5d, 43.7d)) AS wkt,
        |       st_geometrytype(st_point_wkb(0d, 0d)) AS t,
        |       st_isempty(st_point_wkb(1d, 1d)) AS e""".stripMargin).head()
    assert(r.getString(0) == "POINT (7.5 43.7)")
    assert(r.getString(1) == "Point")
    assert(!r.getBoolean(2))
  }

  test("hilbert_index works from SQL and is monotone on the diagonal start") {
    graft.Graft.setup(spark)
    val r = spark.sql(
      "SELECT hilbert_index(0d, 0d, 0d, 0d, 1d, 1d) AS origin").head()
    assert(r.getLong(0) == 0L)
  }

  test("osmpbf source is queryable through SQL views") {
    spark.read.format("osmpbf")
      .load("/root/reference/tests/test_files/monaco.osm.pbf")
      .createOrReplaceTempView("osm")
    val counts = spark.sql(
      """SELECT kind, count(*) AS n FROM osm
        |WHERE size(map_keys(tags)) > 0 OR tags IS NULL
        |GROUP BY kind ORDER BY kind""".stripMargin).collect()
    assert(counts.length == 3)
    val buildings = spark.sql(
      "SELECT count(*) FROM osm WHERE kind = 'way' AND tags['building'] IS NOT NULL")
      .head().getLong(0)
    assert(buildings == 1256L)
  }

  test("CREATE TABLE ... USING osmpbf works as SQL DDL") {
    spark.sql("DROP TABLE IF EXISTS monaco_sql")
    spark.sql(
      """CREATE TABLE monaco_sql USING osmpbf
        |OPTIONS (path '/root/reference/tests/test_files/monaco.osm.pbf')""".stripMargin)
    try {
      val n = spark.sql(
        "SELECT count(*) FROM monaco_sql WHERE kind = 'node'").head().getLong(0)
      assert(n > 30000L)
    } finally spark.sql("DROP TABLE IF EXISTS monaco_sql")
  }

  test("native kernels (vec_*, split_words, word_ngrams, md5_prefix28) from SQL") {
    Graft.setup(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       vec_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       split_words('  Hello   World ') AS w,
        |       word_ngrams('a b c d', 3) AS g,
        |       term_tfs('the cat the dog', array('the', 'bee')) AS tf,
        |       md5_prefix28('x') AS h""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getSeq[String](2) == Seq("hello", "world"))
    assert(r.getSeq[String](3) == Seq("a b c", "b c d"))
    assert(r.getSeq[Long](4) == Seq(4L, 2L, 0L))
    assert(r.getLong(5) ==
      java.lang.Long.parseLong("9dd4e46", 16)) // md5('x') = 9dd4e461...
  }

  test("bloom filter agg + probe work from pure SQL") {
    Graft.setup(spark)
    spark.range(0, 1000).createOrReplaceTempView("bloom_ids")
    // build the sketch over even ids, probe all ids: every even id must
    // hit (no false negatives); odd hits are the fpp residue
    val hits = spark.sql(
      """SELECT id, bloom_might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(id), 500L, 8000L) FROM bloom_ids
        |   WHERE id % 2 = 0),
        |  xxhash64(id)) AS hit
        |FROM bloom_ids""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 1000L by 2).forall(hits(_)), "false negative")
    val falsePos = (1L until 1000L by 2).count(hits(_))
    assert(falsePos < 250, s"implausible fp count $falsePos")
  }

  test("testdata views answer SQL with the same results as the DataFrame API") {
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("lineitem")
    val sql = spark.sql(
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS s
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("s"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(sql == df)
  }
}
