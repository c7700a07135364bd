package graft.osm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.osm.TagFilters._

/** Tag-filter algebra spec — the reference's most unit-tested component
  * (tests/base/test_osm_tags_filtering.py, 936 lines). Unit cases mirror
  * the reference's merge/conflict tables; the property tests check the
  * Catalyst compilation against an independent driver-side evaluator on
  * generated filters × tag maps (SURVEY §5's ScalaCheck adoption note).
  */
class TagFiltersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ------------------------------------------------------------- merge ----

  test("merge unions value lists with order-preserving dedup") {
    val m = merge(Seq(
      Map("amenity" -> Values(Seq("bar", "cafe"))),
      Map("amenity" -> Values(Seq("cafe", "pub")))))
    assert(m == Map("amenity" -> Values(Seq("bar", "cafe", "pub"))))
  }

  test("merge: AnyValue absorbs value lists (both directions)") {
    assert(merge(Seq(Map("k" -> AnyValue), Map("k" -> Values(Seq("v")))))
      == Map("k" -> AnyValue))
    assert(merge(Seq(Map("k" -> Values(Seq("v"))), Map("k" -> AnyValue)))
      == Map("k" -> AnyValue))
  }

  test("merge: negative + negative is fine, positive + negative errors") {
    assert(merge(Seq(Map("k" -> Absent), Map("k" -> Absent)))
      == Map("k" -> Absent))
    intercept[IllegalArgumentException] {
      merge(Seq(Map("k" -> AnyValue), Map("k" -> Absent)))
    }
    intercept[IllegalArgumentException] {
      merge(Seq(Map("k" -> Absent), Map("k" -> Values(Seq("v")))))
    }
  }

  test("merge: disjoint keys pass through; grouped merge is deterministic") {
    val g: GroupedFilter = Map(
      "b" -> Map("highway" -> Values(Seq("primary"))),
      "a" -> Map("building" -> AnyValue))
    val m = mergeGrouped(g)
    assert(m == Map("building" -> AnyValue,
      "highway" -> Values(Seq("primary"))))
  }

  test("anyPositive distinguishes selecting from only-excluding filters") {
    assert(anyPositive(Map("k" -> AnyValue)))
    assert(anyPositive(Map("k" -> Values(Seq("v")), "j" -> Absent)))
    assert(!anyPositive(Map("k" -> Absent, "j" -> Absent)))
  }

  // ------------------------------------- independent filter evaluator ----

  /** Reference evaluator (plain Scala over a Map) of the compile()
    * semantics: positive clauses OR-ed, negative AND-ed, wildcard `*`
    * values as .* regex. */
  private def evalRef(f: OsmTagsFilter, tags: Map[String, String]): Boolean = {
    def valueMatches(v: String, pattern: String): Boolean =
      if (pattern.contains("*"))
        java.util.regex.Pattern
          .compile(pattern.split("\\*", -1)
            .map(java.util.regex.Pattern.quote).mkString(".*"))
          .matcher(v).matches()
      else v == pattern
    val (neg, pos) = f.partition(_._2 == Absent)
    val positive = pos.isEmpty || pos.exists {
      case (k, AnyValue) => tags.contains(k)
      case (k, Values(vs)) => tags.get(k).exists(v => vs.exists(valueMatches(v, _)))
      case _ => false
    }
    val negative = neg.forall { case (k, _) => !tags.contains(k) }
    positive && negative
  }

  private val keyGen = Gen.oneOf("building", "amenity", "highway", "name")
  private val valGen = Gen.oneOf("yes", "bar", "cafe", "primary", "x")
  private val matchGen: Gen[TagMatch] = Gen.frequency(
    3 -> Gen.const(AnyValue),
    2 -> Gen.const(Absent),
    5 -> Gen.nonEmptyListOf(Gen.oneOf("yes", "bar", "ca*", "pri*ry", "x"))
      .map(vs => Values(vs.distinct)))
  private val filterGen: Gen[OsmTagsFilter] =
    Gen.nonEmptyMap(Gen.zip(keyGen, matchGen))
  private val tagsGen: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(keyGen, valGen))

  /** Deterministic sample list from a Gen (fixed seed — reproducible). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("property: compile() agrees with the independent evaluator") {
    val filters = samples(filterGen, 40)
    val tagMaps = samples(tagsGen, 60).distinct
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        tagMaps.zipWithIndex.map { case (m, i) => org.apache.spark.sql.Row(i, m) }, 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("tags",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))).cache()
    filters.foreach { f =>
      val sparkIdx = df.filter(compile(f, col("tags")))
        .select("i").collect().map(_.getInt(0)).toSet
      val refIdx = tagMaps.zipWithIndex
        .filter { case (m, _) => evalRef(f, m) }.map(_._2).toSet
      assert(sparkIdx == refIdx, s"filter $f: spark=$sparkIdx ref=$refIdx")
    }
  }

  test("property: merged positive-only filters are equivalent to OR") {
    val posFilterGen = Gen.nonEmptyMap(Gen.zip(keyGen,
      matchGen.suchThat(_ != Absent)))
    val pairs = samples(Gen.zip(posFilterGen, posFilterGen), 40)
    val tagMaps = samples(tagsGen, 60).distinct
    pairs.foreach { case (f1, f2) =>
      val m = merge(Seq(f1, f2))
      tagMaps.foreach { t =>
        assert(evalRef(m, t) == (evalRef(f1, t) || evalRef(f2, t)),
          s"merge($f1, $f2) diverges from OR on $t")
      }
    }
  }

  test("property: merge is idempotent and right-absorbing for AnyValue") {
    samples(filterGen, 40).foreach { f =>
      assert(merge(Seq(f, f)) == merge(Seq(f)))
    }
  }

  // --------------------------------------------------- wildcard & strip ----

  test("stripMetadataTags drops exact and prefix metadata keys") {
    val df = spark.createDataFrame(Seq(
      (1, Map("building" -> "yes", "source" -> "bing",
        "openGeoDB:loc_id" -> "1", "note" -> "x"))))
      .toDF("i", "tags")
    val kept = df.select(map_keys(stripMetadataTags(col("tags"))).as("k"))
      .head().getSeq[String](0).toSet
    assert(kept == Set("building"))
  }

  test("expandWildcardKeys expands against data keys (F3)") {
    val df = spark.createDataFrame(Seq(
      (1, Map("name" -> "a")), (2, Map("name:en" -> "b")),
      (3, Map("name:fr" -> "c")), (4, Map("highway" -> "x"))))
      .toDF("i", "tags")
    val expanded = expandWildcardKeys(Map("name:*" -> AnyValue), df)
    assert(expanded.keySet == Set("name:en", "name:fr"))
    // non-wildcard filters pass through without touching the data
    val same = Map("building" -> AnyValue)
    assert(expandWildcardKeys(same, df) == same)
  }

  test("wildcard values match `_` and `%` literally in the filter, " +
      "tag subsetting and group columns") {
    // features built directly as (feature_id, tags, geometry) rows
    val features = spark.createDataFrame(Seq(
      ("node/1", Map("amenity" -> "fast_food", "name" -> "a"), Array[Byte](1)),
      ("node/2", Map("amenity" -> "fastXfood"), Array[Byte](2)),
      ("node/3", Map("capacity" -> "10%up"), Array[Byte](3)),
      ("node/4", Map("capacity" -> "10Xup"), Array[Byte](4))))
      .toDF("feature_id", "tags", "geometry")
    val filter: OsmTagsFilter = Map(
      "amenity" -> Values(Seq("fast_*")), "capacity" -> Values(Seq("10%*")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("feature_id").collect().map(_.getString(0)).toSet
    assert(ids(features.filter(compile(filter, col("tags")))) ==
      Set("node/1", "node/3"))
    val subset = OsmPipeline.filterTagsToMatched(features, filter)
      .collect().map(r => r.getString(0) -> r.getMap[String, String](1))
      .toMap
    assert(subset == Map("node/1" -> Map("amenity" -> "fast_food"),
      "node/3" -> Map("capacity" -> "10%up")))
    val grouped = OsmPipeline.groupedTagColumns(features, Map("g" -> filter))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(grouped == Map("node/1" -> Some("amenity=fast_food"),
      "node/2" -> None, "node/3" -> Some("capacity=10%up"), "node/4" -> None))
    val compact = OsmPipeline.groupedTagColumns(features, Map("g" -> filter),
      explode = false)
      .collect().map(r => r.getString(0) -> r.getMap[String, String](1))
      .toMap
    assert(compact("node/2").isEmpty && compact("node/4").isEmpty &&
      compact("node/3") == Map("g" -> "capacity=10%up"))
  }

  test("osmIdsClause groups per-kind id lists (F6)") {
    val df = spark.createDataFrame(Seq(
      ("node", 1L), ("node", 2L), ("way", 1L), ("relation", 9L)))
      .toDF("kind", "id")
    val got = df.filter(osmIdsClause(Seq("node/1", "way/1", "relation/7"),
        col("kind"), col("id")))
      .collect().map(r => s"${r.getString(0)}/${r.getLong(1)}").toSet
    assert(got == Set("node/1", "way/1"))
  }
}
