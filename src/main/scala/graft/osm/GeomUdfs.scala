package graft.osm

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTWriter}
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.operation.union.UnaryUnionOp

/** JTS-backed geometry kernel for the OSM pipeline (SURVEY §2.9 / §7.1
  * module 2 — the Spark realization of DuckDB spatial's ST_* functions used
  * by the reference, e.g. pbf_file_reader.py:3306-3463).
  *
  * Representation strategy (scale-driven):
  *  - Way/ring vertices travel as `array<struct<x:double,y:double>>` — plain
  *    columnar data, built by codegen'd collect/sort expressions, no
  *    geometry objects in shuffles.
  *  - JTS objects exist only inside UDF invocations (ring merging, polygon
  *    building, boolean predicates, set ops); geometries cross stage
  *    boundaries as WKB bytes.
  */
object GeomUdfs extends Serializable {

  @transient private lazy val gf = new GeometryFactory()

  private def toCoords(pts: Seq[Seq[Double]]): Array[Coordinate] =
    pts.iterator.map(r => new Coordinate(r(0), r(1))).toArray

  /** Consecutive-duplicate removal — ST_RemoveRepeatedPoints semantics
    * (reference macro, pbf_file_reader.py:4246-4252). */
  private def dedup(cs: Array[Coordinate]): Array[Coordinate] = {
    if (cs.length < 2) return cs
    val out = new scala.collection.mutable.ArrayBuffer[Coordinate](cs.length)
    out += cs(0)
    var i = 1
    while (i < cs.length) {
      if (cs(i).x != out.last.x || cs(i).y != out.last.y) out += cs(i)
      i += 1
    }
    out.toArray
  }

  private def wkb(g: Geometry): Array[Byte] = new WKBWriter().write(g)
  private def read(b: Array[Byte]): Geometry = new WKBReader(gf).read(b)

  val pointWkb: (Double, Double) => Array[Byte] =
    (x, y) => wkb(gf.createPoint(new Coordinate(x, y)))

  /** linestring_to_linestring_geometry (pbf_file_reader.py:4246-4252):
    * coords are pre-rounded to 7 decimals; dedup consecutive points. */
  val lineWkb: Seq[Seq[Double]] => Array[Byte] = pts => {
    val cs = dedup(toCoords(pts))
    if (cs.length >= 2) wkb(gf.createLineString(cs)) else null
  }

  /** linestring_to_polygon_geometry (pbf_file_reader.py:4253-4259). */
  val polygonWkb: Seq[Seq[Double]] => Array[Byte] = pts => {
    val cs = dedup(toCoords(pts))
    if (cs.length >= 4 && cs.head.equals2D(cs.last))
      wkb(gf.createPolygon(cs))
    else null
  }

  /** ST_LineMerge(ST_Collect(...)) + recursive ST_Dump
    * (pbf_file_reader.py:3440-3450): stitch member linestrings into merged
    * rings, returned as coordinate arrays (consecutive-dedup applied). */
  val lineMergeDump: Seq[Seq[Seq[Double]]] => Seq[Seq[Seq[Double]]] = lines => {
    val merger = new LineMerger()
    lines.foreach { pts =>
      val cs = dedup(toCoords(pts))
      if (cs.length >= 2) merger.add(gf.createLineString(cs))
    }
    val it = merger.getMergedLineStrings.iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Double]]]
    while (it.hasNext) {
      val ls = it.next().asInstanceOf[LineString]
      out += dedup(ls.getCoordinates).map(c => Seq(c.x, c.y)).toSeq
    }
    out.toSeq
  }

  val geomWithin: (Array[Byte], Array[Byte]) => Boolean =
    (a, b) => read(a).within(read(b))

  /** Canonical input order for n-ary unions: UnaryUnionOp's cascaded
    * union tree — and therefore its float result — depends on input
    * ORDER, and a `collect_list` feeding it carries partition arrival
    * order. Sorting by unsigned WKB bytes pins one deterministic tree
    * whatever the physical plan (the r14 64-extract invariance catch). */
  private def sortedGeoms(bs: Seq[Array[Byte]]): java.util.Collection[Geometry] =
    scala.jdk.CollectionConverters.SeqHasAsJava(
      bs.sortWith((x, y) => java.util.Arrays.compareUnsigned(x, y) < 0)
        .map(read)).asJava

  /** ST_Difference(outer, ST_Union_Agg(inners)) — hole subtraction
    * (pbf_file_reader.py:3332-3342). */
  val subtractHoles: (Array[Byte], Seq[Array[Byte]]) => Array[Byte] =
    (outer, inners) =>
      wkb(read(outer).difference(UnaryUnionOp.union(sortedGeoms(inners))))

  /** ST_Union_Agg per group (pbf_file_reader.py:3386-3389). */
  val unionWkb: Seq[Array[Byte]] => Array[Byte] = geoms =>
    wkb(UnaryUnionOp.union(sortedGeoms(geoms)))

  val geomIsEmpty: Array[Byte] => Boolean = b => read(b).isEmpty

  /** One boundary/multipolygon relation's geometry from its way members'
    * roles and vertex arrays, in ref order (pbf_file_reader.py:3306-3463);
    * null when the relation yields none. Steps, in the reference's order:
    * a null role is `outer`, and with no explicit `outer` every member is;
    * members linemerge per role; rings under 4 points are dropped; any
    * open ring left drops the relation; each outer loses the inners
    * within it; the outers are unioned and normalized like
    * [[UnionAggregator]] (fold, then `finish`); an empty union is none.
    * Rings of other roles (e.g. `part`) only count for the open check. */
  val relationWkb: (Seq[String], Seq[Seq[Seq[Double]]]) => Array[Byte] =
    (roles, lines) => {
      val named = roles.map(r => if (r == null) "outer" else r)
      val effective = if (named.contains("outer")) named else named.map(_ => "outer")
      val rings = effective.zip(lines).groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (role, ls) =>
          lineMergeDump(ls.map(_._2)).filter(_.size >= 4).map(role -> _)
        }
      if (rings.exists { case (_, r) => r.head != r.last }) null
      else {
        val polygons = rings.map { case (role, r) => role -> polygonWkb(r) }
        val inners = polygons.collect { case ("inner", p) => p }
        val union = polygons.collect { case ("outer", outer) =>
          val holes = inners.filter(geomWithin(_, outer))
          if (holes.isEmpty) outer else subtractHoles(outer, holes)
        }.foldLeft(null: Array[Byte])(UnionAggregator.reduce)
        if (union == null) null
        else {
          val g = UnionAggregator.finish(union)
          if (geomIsEmpty(g)) null else g
        }
      }
    }

  /** ST_MakeValid (pbf_file_reader.py:3606-3609): identity on valid input. */
  val makeValid: Array[Byte] => Array[Byte] = b => {
    val g = read(b)
    if (g.isValid) b else wkb(GeometryFixer.fix(g))
  }

  val geomType: Array[Byte] => String = b => read(b).getGeometryType
  val asText: Array[Byte] => String = b => new WKTWriter().write(read(b))
  val extent: Array[Byte] => (Double, Double, Double, Double) = b => {
    val e = read(b).getEnvelopeInternal
    (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
  }

  /** Register every function for the SQL surface (st_* names). */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("st_point_wkb", udf(pointWkb))
    spark.udf.register("st_line_wkb", udf(lineWkb))
    spark.udf.register("st_polygon_wkb", udf(polygonWkb))
    spark.udf.register("st_linemerge_dump", udf(lineMergeDump))
    spark.udf.register("st_within", udf(geomWithin))
    spark.udf.register("st_subtract_holes", udf(subtractHoles))
    spark.udf.register("st_union_wkb", udf(unionWkb))
    spark.udf.register("st_isempty", udf(geomIsEmpty))
    spark.udf.register("st_makevalid", udf(makeValid))
    spark.udf.register("st_geometrytype", udf(geomType))
    spark.udf.register("st_astext", udf(asText))
    spark.udf.register("st_extent", udf(extent))
  }

  // Column-API wrappers (note: .apply to keep the Column args out of the
  // udf(...) implicit TypeTag parameter list)
  def point_wkb(x: Column, y: Column): Column = udf(pointWkb).apply(x, y)
  def line_wkb(c: Column): Column = udf(lineWkb).apply(c)
  def polygon_wkb(c: Column): Column = udf(polygonWkb).apply(c)
  def linemerge_dump(c: Column): Column = udf(lineMergeDump).apply(c)
  def union_wkb(c: Column): Column = udf(unionWkb).apply(c)
  def relation_wkb(roles: Column, lines: Column): Column =
    udf(relationWkb).apply(roles, lines)
  def make_valid(c: Column): Column = udf(makeValid).apply(c)
  def geometry_type(c: Column): Column = udf(geomType).apply(c)
  def as_text(c: Column): Column = udf(asText).apply(c)
}
