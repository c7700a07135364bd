package graft.perfbench

import graft.osm.TagFilters
import graft.pbf.OsmElement

import scala.collection.mutable.ArrayBuffer

/** A seeded synthetic city and the feature ids a conversion of it must
  * produce, derived from how the city was built rather than from the engine.
  *
  * Layout on a `side` x `side` node grid (one cell = `StepE7` * 1e-7 deg):
  *  - grid nodes, a few tagged as points of interest, a few with only
  *    metadata tags (no feature);
  *  - streets along every second row and column, split into segments of
  *    4-12 nodes; about 1% reference a node that does not exist (no feature);
  *  - buildings: closed 4-node ways inside every second cell;
  *  - multipolygon relations over 8x8-cell blocks: an outer ring split into
  *    two untagged ways plus one inner ring; about 10% name a member way that
  *    does not exist (no feature); a few route relations (never features). */
final case class City(elements: IndexedSeq[OsmElement], fullIds: Set[String])

object CityGen {
  val StepE7 = 2000L // 0.0002 deg, about 20 m

  private def hasNonMetadataTag(tags: Seq[(String, String)]): Boolean =
    tags.exists { case (k, _) =>
      !TagFilters.MetadataTagsToIgnore.exists(m =>
        if (m.endsWith(":")) k.startsWith(m) else k == m)
    }

  /** Origin in 1e-7 degrees; the seed moves the city so inputs differ. */
  private def origin(seed: Long): (Long, Long) =
    (100000000L + math.floorMod(seed, 97L) * 1000000L,
      450000000L + math.floorMod(seed, 89L) * 1000000L)

  def generate(seed: Long, side: Int): City = {
    val rnd = new scala.util.Random(seed)
    val (lon0, lat0) = origin(seed)
    val nodes = ArrayBuffer.empty[OsmElement]
    val ways = ArrayBuffer.empty[OsmElement]
    val rels = ArrayBuffer.empty[OsmElement]
    val full = Set.newBuilder[String]
    def node(id: Long, gx: Double, gy: Double, tags: Seq[(String, String)]): Unit = {
      val lon = (lon0 + math.round(gx * StepE7)) / 1e7
      val lat = (lat0 + math.round(gy * StepE7)) / 1e7
      nodes += OsmElement("node", id, tags.toArray, null, null, null, lat, lon)
    }
    def feature(kind: String, id: Long, tags: Seq[(String, String)],
        valid: Boolean): Unit =
      if (valid && hasNonMetadataTag(tags)) full += s"$kind/$id"

    // grid nodes
    val amenities = Seq("cafe", "restaurant", "bar", "school", "bench", "cafeteria")
    for (j <- 0 until side; i <- 0 until side) {
      val id = 1L + j.toLong * side + i
      val r = rnd.nextDouble()
      val tags =
        if (r < 0.06) Seq("amenity" -> amenities(rnd.nextInt(amenities.size)),
          "name" -> s"poi $id")
        else if (r < 0.08) Seq("shop" -> "bakery")
        else if (r < 0.10) Seq("created_by" -> "citygen")
        else Nil
      node(id, i, j, tags)
      feature("node", id, tags, valid = true)
    }
    var nextNode = side.toLong * side + 1
    def untaggedNode(gx: Double, gy: Double): Long = {
      val id = nextNode
      nextNode += 1
      node(id, gx, gy, Nil)
      id
    }
    var nextWay = 1L
    def way(refs: Array[Long], tags: Seq[(String, String)]): Long = {
      val id = nextWay
      nextWay += 1
      ways += OsmElement("way", id, tags.toArray, refs, null, null, Double.NaN, Double.NaN)
      id
    }
    val missingNode = 4000000000L

    // streets along every second row and column
    val highways = Seq("residential", "residential", "residential", "primary",
      "secondary", "footway", "service")
    def street(ids: IndexedSeq[Long]): Unit = {
      var k = 0
      while (k < ids.size - 1) {
        val len = 4 + rnd.nextInt(9)
        val seg = ids.slice(k, math.min(ids.size, k + len))
        k += seg.size - 1
        val broken = rnd.nextDouble() < 0.01
        val refs = if (broken) (seg.take(1) :+ missingNode) ++ seg.drop(1) else seg
        val tags = Seq("highway" -> highways(rnd.nextInt(highways.size)),
          "name" -> s"street ${nextWay}")
        val wid = way(refs.toArray, tags)
        feature("way", wid, tags, valid = !broken)
      }
    }
    for (j <- 0 until side by 2) street((0 until side).map(i => 1L + j.toLong * side + i))
    for (i <- 0 until side by 2) street((0 until side).map(j => 1L + j.toLong * side + i))

    // buildings inside every second cell (odd cells, off the street grid)
    val buildings = Seq("yes", "house", "apartments", "commercial")
    for (j <- 1 until side - 1 by 2; i <- 1 until side - 1 by 2) {
      if (rnd.nextDouble() < 0.5) {
        val ids = Seq((0.25, 0.25), (0.75, 0.25), (0.75, 0.75), (0.25, 0.75))
          .map { case (dx, dy) => untaggedNode(i + dx, j + dy) }
        val tags = Seq("building" -> buildings(rnd.nextInt(buildings.size))) ++
          (if (rnd.nextDouble() < 0.3) Seq("building:levels" -> (1 + rnd.nextInt(8)).toString)
           else Nil)
        val wid = way((ids :+ ids.head).toArray, tags)
        feature("way", wid, tags, valid = true)
      }
    }

    // multipolygons over 8x8-cell blocks, and a few route relations
    var nextRel = 1L
    val block = 8
    val landuses = Seq("grass", "forest", "residential", "meadow")
    for (bj <- 0 until side - block by block; bi <- 0 until side - block by block) {
      val r = rnd.nextDouble()
      if (r < 0.25) {
        def ring(pts: Seq[(Double, Double)]): Seq[Long] =
          pts.map { case (x, y) => untaggedNode(bi + x, bj + y) }
        val o = ring(Seq((0.1, 0.1), (block - 0.1, 0.1), (block - 0.1, block - 0.1),
          (0.1, block - 0.1)))
        val in = ring(Seq((2.9, 2.9), (5.1, 2.9), (5.1, 5.1), (2.9, 5.1)))
        val w1 = way(Array(o(0), o(1), o(2)), Nil)
        val w2 = way(Array(o(2), o(3), o(0)), Nil)
        val w3 = way((in :+ in.head).toArray, Nil)
        val broken = rnd.nextDouble() < 0.1
        val members = Seq((w1, "outer"), (w2, "outer"), (w3, "inner")) ++
          (if (broken) Seq((3000000000L, "outer")) else Nil)
        val tags = Seq("type" -> "multipolygon",
          (if (rnd.nextDouble() < 0.8) "landuse" else "leisure") ->
            landuses(rnd.nextInt(landuses.size)))
        val id = nextRel
        nextRel += 1
        rels += OsmElement("relation", id, tags.toArray, members.map(_._1).toArray,
          members.map(_ => "way").toArray, members.map(_._2).toArray,
          Double.NaN, Double.NaN)
        feature("relation", id, tags, valid = !broken)
      } else if (r < 0.28) {
        val id = nextRel
        nextRel += 1
        val stop = 1L + bj.toLong * side + bi
        rels += OsmElement("relation", id, Array("type" -> "route", "route" -> "bus"),
          Array(stop, 1L), Array("node", "way"), Array("stop", ""), Double.NaN, Double.NaN)
      }
    }
    City((nodes ++ ways ++ rels).toIndexedSeq, full.result())
  }
}
