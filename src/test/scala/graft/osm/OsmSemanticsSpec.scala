package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.osm.TagFilters._
import graft.pbf.{OsmElement, PbfWriter}

/** A small hand-built extract whose conversion result is derived by hand
  * (see [[OsmSemanticsSpec]]). Every case sits in its own coordinate
  * region, so a geometry filter can pick one node without touching the
  * others. Coordinates are whole degrees except node 1, which pins the
  * 7-decimal rounding. */
object SemanticsFixture {
  private def node(id: Long, x: Double, y: Double,
      tags: (String, String)*): OsmElement =
    OsmElement("node", id, if (tags.isEmpty) null else tags.toArray,
      null, null, null, y, x)

  private def way(id: Long, refs: Seq[Long],
      tags: (String, String)*): OsmElement =
    OsmElement("way", id, if (tags.isEmpty) null else tags.toArray,
      refs.toArray, null, null, Double.NaN, Double.NaN)

  /** `role` "" is read back as a null role. */
  private def rel(id: Long, tags: Seq[(String, String)],
      members: (String, Long, String)*): OsmElement =
    OsmElement("relation", id, tags.toArray, members.map(_._2).toArray,
      members.map(_._1).toArray, members.map(_._3).toArray,
      Double.NaN, Double.NaN)

  /** Four corner nodes n0..n0+3 of the square [lo, hi]², counter-clockwise
    * from (lo, lo). */
  private def corners(n0: Long, lo: Double, hi: Double): Seq[OsmElement] =
    Seq((lo, lo), (hi, lo), (hi, hi), (lo, hi)).zipWithIndex.map {
      case ((x, y), i) => node(n0 + i, x, y)
    }
  private def ring(n0: Long): Seq[Long] = Seq(n0, n0 + 1, n0 + 2, n0 + 3, n0)

  private val mp = "type" -> "multipolygon"

  val elements: Seq[OsmElement] = {
    val nodes = Seq(
      node(1, 1.2345678, 1.5, "amenity" -> "bench"),
      node(2, 2, 1, "created_by" -> "JOSM"), // only a metadata tag
      node(3, 3, 1)) ++
      Seq(node(10, 5, 5), node(11, 6, 5), node(13, 5, 6)) ++ // 12 missing
      corners(20, 10, 12) ++ corners(30, 14, 16) ++
      corners(34, 17, 19) ++ // stays open: 34-35-36-37
      corners(40, 24, 26) ++ Seq(node(44, 27, 24), node(45, 28, 24)) ++
      corners(50, 30, 32) ++ corners(54, 33, 35) ++ corners(60, 36, 38) ++
      corners(70, 40, 42) ++ corners(74, 44, 46) ++
      corners(80, 50, 60) ++ corners(84, 52, 54) ++
      corners(90, 62, 64) ++ corners(94, 66, 68) ++ corners(98, 70, 72)
    val ways = Seq(
      way(10, Seq(10, 11, 12, 13, 10), "highway" -> "residential"),
      way(11, Seq(1), "barrier" -> "gate"), // one ref
      way(12, ring(20)), way(13, ring(30)),
      way(14, Seq(34, 35, 36, 37)), // open
      way(15, ring(40)), way(16, Seq(44, 45)), // two points
      way(17, ring(50)), way(18, ring(54)), way(19, ring(60)),
      way(20, ring(70)), way(21, ring(74)),
      way(22, Seq(80, 81, 82), "barrier" -> "fence"), // outer, first half
      way(23, Seq(82, 83, 80)), // outer, second half
      way(24, ring(84)),
      way(25, ring(90), "building" -> "yes"),
      way(26, ring(94), "highway" -> "residential"),
      way(27, ring(98), "building" -> "yes", "area" -> "no"))
    val rels = Seq(
      rel(100, Seq(mp, "landuse" -> "grass"), ("way", 10, "outer")),
      rel(101, Seq(mp, "name" -> "NodeOnly"), ("node", 1, "")),
      rel(102, Seq(mp, "natural" -> "water"),
        ("way", 12, "outer"), ("way", 9999, "inner")),
      rel(103, Seq(mp, "landuse" -> "forest"),
        ("way", 13, "outer"), ("way", 14, "outer")),
      rel(104, Seq(mp, "building" -> "yes"),
        ("way", 17, "outer"), ("way", 18, "part")),
      rel(105, Seq(mp, "man_made" -> "bridge"), ("way", 19, "part")),
      rel(106, Seq(mp, "landuse" -> "meadow"),
        ("way", 20, "outer"), ("way", 21, "outer")),
      rel(107, Seq("type" -> "boundary", "boundary" -> "protected_area",
          "name" -> "H"),
        ("way", 24, "inner"), ("way", 23, ""), ("way", 22, "outer")),
      rel(108, Seq(mp, "leisure" -> "park"),
        ("way", 15, "outer"), ("way", 16, "outer")))
    nodes ++ ways ++ rels
  }

  /** Writes the fixture as a PBF under a fresh temp directory. */
  def write(): String = {
    val dir = java.nio.file.Files.createTempDirectory("semantics").toString
    val path = s"$dir/fixture.osm.pbf"
    PbfWriter.write(elements.iterator, path)
    path
  }
}

/** Conversion semantics pinned on [[SemanticsFixture]], with every expected
  * feature id, tag map and WKT derived by hand (no vendored fixture):
  *  - ref closure: a way with a missing node is no feature, and a
  *    relation using it is dropped; a one-ref way is no way; a relation
  *    naming a missing way, or with no way member at all, is dropped;
  *  - rings: linemerge per effective role (null role = outer; no explicit
  *    outer = all outer), rings with fewer than 4 points are dropped, any
  *    open ring left drops the relation, `part` rings are neither outer
  *    nor inner, inners within an outer are holes, parts are unioned and
  *    normalized (shell clockwise from its least vertex, holes
  *    counter-clockwise);
  *  - ways: a closed `building` way is a polygon, closed `highway` and
  *    `area=no` ways are linestrings, both in ref order;
  *  - nodes: only tags other than metadata make a node a feature;
  *  - filters: tags, custom SQL, `osmIds`, geometry, `keepAllTags` and
  *    the multi-file dedup. */
class OsmSemanticsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val path = { spark; SemanticsFixture.write() }

  private def sq(lo: Int, hi: Int): String =
    s"($lo $lo, $lo $hi, $hi $hi, $hi $lo, $lo $lo)"

  /** feature_id -> (tags, WKT) of the unfiltered conversion. */
  private val Expected: Map[String, (Map[String, String], String)] = Map(
    "node/1" -> (Map("amenity" -> "bench"), "POINT (1.2345678 1.5)"),
    "way/22" -> (Map("barrier" -> "fence"), "LINESTRING (50 50, 60 50, 60 60)"),
    "way/25" -> (Map("building" -> "yes"),
      "POLYGON ((62 62, 64 62, 64 64, 62 64, 62 62))"),
    "way/26" -> (Map("highway" -> "residential"),
      "LINESTRING (66 66, 68 66, 68 68, 66 68, 66 66)"),
    "way/27" -> (Map("building" -> "yes"),
      "LINESTRING (70 70, 72 70, 72 72, 70 72, 70 70)"),
    "relation/104" -> (Map("type" -> "multipolygon", "building" -> "yes"),
      s"POLYGON (${sq(30, 32)})"),
    "relation/105" -> (Map("type" -> "multipolygon", "man_made" -> "bridge"),
      s"POLYGON (${sq(36, 38)})"),
    "relation/106" -> (Map("type" -> "multipolygon", "landuse" -> "meadow"),
      s"MULTIPOLYGON ((${sq(40, 42)}), (${sq(44, 46)}))"),
    "relation/107" -> (Map("type" -> "boundary",
        "boundary" -> "protected_area", "name" -> "H"),
      s"POLYGON (${sq(50, 60)}, (52 52, 54 52, 54 54, 52 54, 52 52))"),
    "relation/108" -> (Map("type" -> "multipolygon", "leisure" -> "park"),
      s"POLYGON (${sq(24, 26)})"))

  private def rows(df: DataFrame): Map[String, (Map[String, String], String)] = {
    val got = df.select(col("feature_id"), col("tags"),
        GeomUdfs.as_text(col("geometry")))
      .collect().map(r => r.getString(0) ->
        (r.getMap[String, String](1).toMap, r.getString(2)))
    assert(got.map(_._1).distinct.length == got.length, "duplicate feature ids")
    got.toMap
  }

  private def convert(opts: OsmPipeline.Options,
      paths: Seq[String] = Seq(path)): Map[String, (Map[String, String], String)] = {
    val (df, cuts) = OsmPipeline.featuresWithCuts(spark, paths, opts)
    try rows(df) finally cuts.release()
  }

  private def expectedOnly(ids: String*) = Expected.filter(e => ids.contains(e._1))

  test("unfiltered conversion: every feature id, tag map and WKT") {
    assert(convert(OsmPipeline.Options()) == Expected)
  }

  test("a tags filter keeps a relation but not its member ways") {
    assert(convert(OsmPipeline.Options(tagsFilter =
      Some(Map("boundary" -> AnyValue)))) == expectedOnly("relation/107"))
  }

  test("a grouped filter keeps the union of its groups") {
    assert(convert(OsmPipeline.Options(groupedFilter = Some(Map(
      "parks" -> Map("leisure" -> AnyValue),
      "roads" -> Map("highway" -> Values(Seq("residential"))))))) ==
      expectedOnly("relation/108", "way/26"))
  }

  test("a geometry filter keeps a relation through one member's node") {
    // the box holds only node 74, a corner of relation 106's second outer
    val box = "POLYGON ((43.5 43.5, 44.5 43.5, 44.5 44.5, 43.5 44.5, 43.5 43.5))"
    assert(convert(OsmPipeline.Options(geometryWkt = Some(box))) ==
      expectedOnly("relation/106"))
  }

  test("a geometry filter keeps nodes and ways with a vertex inside") {
    // node 1 and way 22's middle vertex (60 50); way 25 stays outside
    val box = "POLYGON ((1 1, 61 1, 61 51, 1 51, 1 1))"
    assert(convert(OsmPipeline.Options(geometryWkt = Some(box)))
      .keySet.filter(!_.startsWith("relation/")) == Set("node/1", "way/22"))
  }

  test("an osmIds run converts exactly the named features") {
    assert(convert(OsmPipeline.Options(osmIds =
      Seq("node/1", "way/25", "relation/107"))) ==
      expectedOnly("node/1", "way/25", "relation/107"))
  }

  test("a custom SQL filter applies to every kind") {
    assert(convert(OsmPipeline.Options(customSqlFilter =
      Some("tags['building'] = 'yes'"))) ==
      expectedOnly("way/25", "way/27", "relation/104"))
  }

  test("keepAllTags keeps metadata tags but not metadata-only features") {
    val got = convert(OsmPipeline.Options(keepAllTags = true))
    assert(got.keySet == Expected.keySet)
    assert(got("way/27")._1 == Map("building" -> "yes", "area" -> "no"))
    assert(got.forall { case (id, (_, wkt)) => wkt == Expected(id)._2 })
  }

  test("the same file twice converts once") {
    assert(convert(OsmPipeline.Options(), Seq(path, path)) == Expected)
  }
}
