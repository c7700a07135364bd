package graft.osm

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.io.{WKBReader, WKBWriter}

/** ST_Union_Agg (SURVEY §2.12; pbf_file_reader.py:3337,3386-3389).
  *
  * The conversion does not run this as an aggregate: it collects each
  * relation's members into one row and [[GeomUdfs.relationWkb]] calls
  * `reduce` (a fold over the relation's outer polygons, in ref order)
  * and then `finish` as plain functions. The Aggregator form
  * (`union_agg`, unioning inside partial-aggregation buffers) has no
  * pipeline caller; its specs still exercise it.
  *
  * `finish` NORMALIZES the union (JTS canonical form: component order,
  * ring start point, orientation), so the output does not depend on the
  * order the parts were unioned in — as an aggregate that order is the
  * partition layout's arrival order, which differs between shuffle
  * configs (equal point sets, different WKB). For disjoint parts (the
  * OSM relation shape) the union passes coordinates through exactly, so
  * the normalized result is bit-reproducible; overlapping
  * float-coordinate inputs can still drift at the ulp level with union
  * order. */
object UnionAggregator extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {

  private def read(b: Array[Byte]): Geometry = new WKBReader().read(b)
  private def write(g: Geometry): Array[Byte] = new WKBWriter().write(g)

  override def zero: Array[Byte] = null

  override def reduce(buf: Array[Byte], a: Array[Byte]): Array[Byte] =
    if (a == null) buf
    else if (buf == null) a
    else write(read(buf).union(read(a)))

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] =
    reduce(b1, b2)

  override def finish(reduction: Array[Byte]): Array[Byte] =
    if (reduction == null) null
    else {
      val g = read(reduction)
      g.normalize()
      write(g)
    }

  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY

  /** Column form: st_union_agg(geometryWkb). */
  def union_agg(c: Column): Column =
    org.apache.spark.sql.functions.udaf(this).apply(c)
}
