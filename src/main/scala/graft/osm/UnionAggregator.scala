package graft.osm

import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.io.{WKBReader, WKBWriter}

/** ST_Union_Agg (SURVEY §2.12; pbf_file_reader.py:3337,3386-3389).
  *
  * The conversion collects each relation's members into one row, and
  * [[GeomUdfs.relationWkb]] folds the relation's outer polygons (in ref
  * order, from a null buffer) with `reduce` and then calls `finish`.
  *
  * `finish` NORMALIZES the union (JTS canonical form: component order,
  * ring start point, orientation), so the output does not depend on the
  * order the parts were unioned in. For disjoint parts (the OSM
  * relation shape) the union passes coordinates through exactly, so
  * the normalized result is bit-reproducible; overlapping
  * float-coordinate inputs can still drift at the ulp level with union
  * order. */
object UnionAggregator {

  private def read(b: Array[Byte]): Geometry = new WKBReader().read(b)
  private def write(g: Geometry): Array[Byte] = new WKBWriter().write(g)

  /** Unions `a` into the buffer; a null on either side is no geometry. */
  def reduce(buf: Array[Byte], a: Array[Byte]): Array[Byte] =
    if (a == null) buf
    else if (buf == null) a
    else write(read(buf).union(read(a)))

  def finish(reduction: Array[Byte]): Array[Byte] =
    if (reduction == null) null
    else {
      val g = read(reduction)
      g.normalize()
      write(g)
    }
}
