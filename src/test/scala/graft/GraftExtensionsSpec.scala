package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{col, lit, xxhash64}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.NativeFunctions

class GraftExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a session built from scratch, with or without
    * `spark.sql.extensions=graft.GraftExtensions`. Extensions only apply
    * at session construction, so any running session is stopped first;
    * the other shared-session suites get a clean slate afterwards. */
  private def withSession[T](extension: Boolean)(body: SparkSession => T): T = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
    if (extension) b.config("spark.sql.extensions", "graft.GraftExtensions")
    val spark = b.getOrCreate()
    try body(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def missing(spark: SparkSession): Seq[String] =
    NativeFunctions.all.map(_.name).filterNot(n =>
      spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  test("spark.sql.extensions=graft.GraftExtensions exposes hilbert_index to SQL") {
    withSession(extension = true) { spark =>
      val r = spark.sql(
        "SELECT hilbert_index(0.5, 0.5, 0.0, 0.0, 1.0, 1.0) AS h").head()
      assert(!r.isNullAt(0))
      // same value as the temp-function registration route
      Graft.setup(spark)
      val r2 = spark.sql(
        "SELECT hilbert_index(0.5, 0.5, 0.0, 0.0, 1.0, 1.0) AS h").head()
      assert(r.getLong(0) == r2.getLong(0))
      // Graft.setup also brought the st_* UDF surface
      assert(spark.sql("SELECT st_astext(st_point_wkb(1.0d, 2.0d)) AS t")
        .head().getString(0).startsWith("POINT"))
      // the text kernels are SQL-visible through the extension too
      assert(spark.sql(
        "SELECT merge_pair(split_words('a a b'), 'a', 'b') AS m")
        .head().getSeq[String](0) == Seq("a", "a b"))
      assert(spark.sql(
        "SELECT adjacent_pairs(split_words('a b c')) AS p")
        .head().getSeq[org.apache.spark.sql.Row](0).size == 2)
      assert(spark.sql(
        "SELECT apply_bpe_table(split_words('a b c'), array('a'), array('b')) AS t")
        .head().getSeq[String](0) == Seq("a b", "c"))
      assert(spark.sql(
        "SELECT wordpiece('abc', array('ab', 'c')) AS w")
        .head().getSeq[String](0) == Seq("ab", "c"))
      assert(spark.sql(
        "SELECT viterbi_segment('abc', array('ab', 'c'), array(5L, 3L)).n_pieces AS n")
        .head().getLong(0) == 2L)
      assert(spark.sql("SELECT char_ngrams('ab', 2) AS g")
        .head().getSeq[String](0) == Seq("a", "ab", "b"))
      assert(spark.sql("SELECT ngram_hashes('a b c', 2) AS h")
        .head().getSeq[Long](0).size == 2)
    }
  }

  test("every native function resolves on an extension session, on a plain " +
      "session after Graft.setup, and on an extension session after Graft.setup") {
    assert(NativeFunctions.all.map(_.name).distinct.size == 23)
    withSession(extension = true) { spark =>
      assert(missing(spark).isEmpty, "extension only")
      Graft.setup(spark)
      assert(missing(spark).isEmpty, "extension, then Graft.setup")
    }
    withSession(extension = false) { spark =>
      assert(missing(spark).size == 23, "a plain session carries none")
      Graft.setup(spark)
      assert(missing(spark).isEmpty, "Graft.setup")
    }
  }

  /** md5_prefix28 of an int and of its string, vec_l2normalize,
    * vec_nearest_cell, and the bloom_might_contain hits of ids 0..19
    * against a bloom_filter_agg sketch of the even ones, through SQL. */
  private def viaSql(spark: SparkSession): (Row, Seq[Boolean]) = {
    val r = spark.sql(
      """SELECT md5_prefix28(42) AS i, md5_prefix28('42') AS s,
        |       vec_l2normalize(array(3.0d, 4.0d)) AS n,
        |       vec_nearest_cell(array(1.0d, 0.2d),
        |         array(0.0d, 1.0d, 1.0d, 0.0d), array(7L, 9L), -1) AS c
        |""".stripMargin).head()
    spark.range(0, 20).createOrReplaceTempView("graft_ids")
    val hits = spark.sql(
      """SELECT bloom_might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(id), 100L, 4000L) FROM graft_ids
        |   WHERE id % 2 = 0), xxhash64(id)) AS hit
        |FROM graft_ids ORDER BY id""".stripMargin)
      .collect().map(_.getBoolean(0)).toSeq
    (r, hits)
  }

  /** The same values from the table's Column builders, which need no
    * registration. */
  private def viaColumns(spark: SparkSession): (Row, Seq[Boolean]) = {
    import NativeFunctions._
    import org.apache.spark.sql.functions.{array, typedLit}
    val r = spark.range(1).select(md5Prefix28(lit(42)), md5Prefix28(lit("42")),
      vecL2normalize(array(lit(3.0), lit(4.0))),
      vecNearestCell(array(lit(1.0), lit(0.2)), typedLit(Seq(0.0, 1.0, 1.0, 0.0)),
        typedLit(Seq(7L, 9L)), lit(-1))).head()
    val ids = spark.range(0, 20)
    val sketch = ids.filter(col("id") % 2 === 0)
      .select(bloomFilterAgg(xxhash64(col("id")), lit(100L), lit(4000L)))
      .head().getAs[Array[Byte]](0)
    val hits = ids.orderBy("id")
      .select(bloomMightContain(lit(sketch), xxhash64(col("id"))))
      .collect().map(_.getBoolean(0)).toSeq
    (r, hits)
  }

  test("the extension, Graft.setup and the Column builders agree on " +
      "md5_prefix28, vec_l2normalize, vec_nearest_cell and the bloom round trip") {
    val ext = withSession(extension = true)(viaSql)
    val setup = withSession(extension = false) { spark =>
      Graft.setup(spark)
      viaSql(spark)
    }
    val cols = withSession(extension = false)(viaColumns)
    val (row, hits) = setup
    assert(row.getLong(0) == row.getLong(1), "md5_prefix28 casts its argument to string")
    assert(row.getSeq[Double](2) == Seq(0.6, 0.8))
    assert(row.getLong(3) == 9L)
    assert((0 until 20 by 2).forall(hits(_)), "false negative")
    for ((route, (r, h)) <- Seq("extension" -> ext, "columns" -> cols)) {
      assert(r.toSeq.map(normalize) == row.toSeq.map(normalize), route)
      assert(h == hits, route)
    }
  }

  private def normalize(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.toList
    case other => other
  }

  test("a caller's temp function named split_words does not capture an " +
      "operator's call") {
    withSession(extension = false) { spark =>
      import spark.implicits._
      val docs = Seq((1L, "a b a c"), (2L, "x y")).toDF("id", "text")
      def stats(): Seq[Row] = graft.operators.CorpusOps
        .repetitionStats(docs, "id", "text").orderBy("id").collect().toSeq
      val before = stats()
      spark.udf.register("split_words", (_: String) => Seq("captured"))
      assert(spark.sql("SELECT split_words('a b')").head().getSeq[String](0) ==
        Seq("captured"))
      assert(stats() == before)
      assert(before.map(_.getLong(1)) == Seq(4L, 2L))
    }
  }
}
