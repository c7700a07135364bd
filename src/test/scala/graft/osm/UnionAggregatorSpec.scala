package graft.osm

import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKBWriter
import org.scalatest.funsuite.AnyFunSuite

/** [[UnionAggregator]]'s order-invariance, pinned directly — the r14
  * 64-extract scale-up caught the incremental union emitting a
  * multi-part relation's MultiPolygon components in arrival order
  * (point sets equal, bytes different); `finish` now normalizes to the
  * JTS canonical form. This spec holds the property for the fold: for
  * DISJOINT parts (the OSM relation shape, where union passes
  * coordinates through exactly) the union bytes are IDENTICAL under
  * reversed input order and under a shuffled order split 8 ways. */
class UnionAggregatorSpec extends AnyFunSuite {
  import UnionAggregatorSpec.union

  private val gf = new GeometryFactory()

  /** A small square polygon WKB at integer offset (ox, oy). */
  private def square(ox: Double, oy: Double): Array[Byte] = {
    val ring = Array(
      new Coordinate(ox, oy), new Coordinate(ox + 1, oy),
      new Coordinate(ox + 1, oy + 1), new Coordinate(ox, oy + 1),
      new Coordinate(ox, oy))
    new WKBWriter().write(gf.createPolygon(ring))
  }

  private def aggBytes(rows: Seq[(Long, Array[Byte])],
      parts: Int): Map[Long, Seq[Byte]] =
    rows.groupBy(_._1).map { case (id, rs) => id -> union(rs.map(_._2), parts).toSeq }

  test("disjoint-part unions are byte-identical under reversed order " +
      "and under an 8-way shuffle (the r14 multi-extract catch)") {
    val rnd = new scala.util.Random(14)
    // 6 groups × 3-9 disjoint squares each, scattered offsets
    val rows = (0L until 6L).flatMap { id =>
      val n = 3 + rnd.nextInt(7)
      val offs = rnd.shuffle((0 until 40).toList).take(n)
      offs.map(o => id -> square(o * 3.0, (o % 7) * 3.0))
    }
    val fwd = aggBytes(rows, 1)
    val rev = aggBytes(rows.reverse, 1)
    val shuffled = aggBytes(rnd.shuffle(rows), 8)
    assert(fwd == rev, "reversed input order changed union bytes")
    assert(fwd == shuffled, "8-way shuffle changed union bytes")
  }

  test("two disjoint polygons union to the SAME MultiPolygon bytes in " +
      "both orders (the relation/5986437 component-order class)") {
    val a = square(0, 0)
    val b = square(10, 10)
    val ab = aggBytes(Seq(1L -> a, 1L -> b), 1)(1L)
    val ba = aggBytes(Seq(1L -> b, 1L -> a), 1)(1L)
    assert(ab == ba)
  }

  test("null rows fold away; an all-null group yields null") {
    val rows = Seq((1L, square(0, 0)), (1L, null.asInstanceOf[Array[Byte]]),
      (2L, null.asInstanceOf[Array[Byte]]))
    val out = rows.groupBy(_._1)
      .map { case (id, rs) => id -> Option(union(rs.map(_._2), 1)) }
    assert(out(1L).isDefined && out(2L).isEmpty)
  }
}

object UnionAggregatorSpec {
  /** The union of `parts` along the merge tree a `splits`-way
    * aggregation builds: parts dealt round-robin to `splits` buffers,
    * each folded with `reduce` from a null buffer, the partial unions
    * folded again, then `finish`. */
  def union(parts: Seq[Array[Byte]], splits: Int): Array[Byte] = {
    def fold(bs: Seq[Array[Byte]]) = bs.foldLeft(null: Array[Byte])(UnionAggregator.reduce)
    val partials = (0 until splits).map(k =>
      fold(parts.zipWithIndex.collect { case (b, i) if i % splits == k => b }))
    UnionAggregator.finish(fold(partials))
  }
}
