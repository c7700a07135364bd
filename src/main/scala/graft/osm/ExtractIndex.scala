package graft.osm

import com.fasterxml.jackson.databind.ObjectMapper
import graft.osm.ExtractCover.Extract
import org.apache.spark.sql.SparkSession
import org.locationtech.jts.geom.{Geometry, Polygon}

/** Extract-index loaders: parse a Geofabrik-style `index-v1.json`
  * (GeoJSON FeatureCollection) or the reference's cached index parquet
  * into the [[ExtractCover.Extract]] list the cover algorithm consumes.
  *
  * Mirrors the reference's index pipeline minus the network layer (the
  * environment is zero-egress; pass a local path — the reference itself
  * reads the same formats from its cache dir):
  *  - GeoJSON property mapping per `osm_extracts/geofabrik.py:51-77`
  *    (`url` = `urls.pbf`, `name` = id with `/`→`_`, ids/parents prefixed
  *    with the source name, US subtree reparented).
  *  - expected-columns contract and outdated-structure failure per
  *    `osm_extracts/extract.py:77,138-150`.
  *  - geodetic area (km²) + (area, id) sort + parent-chain file names per
  *    `osm_extracts/extract.py:125-134,305-344`.
  *
  * Indexes are tiny (Geofabrik ≈ 500 rows), so everything here is
  * driver-side; the cluster-scale work starts at the conversion the index
  * feeds ([[ExtractCover.convertGeometry]]).
  */
object ExtractIndex {

  /** The reference's index schema contract (extract.py:77). */
  val ExpectedColumns: Seq[String] =
    Seq("id", "name", "file_name", "parent", "geometry", "area", "url")

  /** Load an index from a local path, dispatching on the extension:
    * `.json`/`.geojson` → Geofabrik-style GeoJSON, `.parquet` → cached
    * index parquet. */
  def load(spark: SparkSession, path: String,
      source: String = "Geofabrik"): Seq[Extract] = {
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    if (lower.endsWith(".json") || lower.endsWith(".geojson"))
      loadGeoJson(path, source)
    else if (lower.endsWith(".parquet")) loadParquet(spark, path)
    else throw new IllegalArgumentException(
      s"unsupported extract index format: $path (.json/.geojson/.parquet)")
  }

  /** Parse a Geofabrik `index-v1.json` payload from a local file
    * (geofabrik.py:51-77). Features without a `urls.pbf` entry are
    * skipped (Geofabrik lists a few update-only areas). */
  def loadGeoJson(path: String, source: String = "Geofabrik"): Seq[Extract] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val root = new ObjectMapper().readTree(text)
    require(root.has("features"), s"not a GeoJSON FeatureCollection: $path")
    val feats = root.get("features")
    val rows = (0 until feats.size()).flatMap { i =>
      val f = feats.get(i)
      val props = f.get("properties")
      val pbf = Option(props.get("urls")).flatMap(u => Option(u.get("pbf")))
      pbf.map { url =>
        val rawId = props.get("id").asText()
        val rawParent = Option(props.get("parent")).filterNot(_.isNull)
          .map(_.asText())
        val id = s"${source}_$rawId"
        // the reference reparents the US states directly under 'us'
        // (geofabrik.py:73-76)
        val parent =
          if (id.startsWith(s"${source}_us/")) s"${source}_us"
          else rawParent.map(p => s"${source}_$p").getOrElse(source)
        val geom = GeometryFilters.parseGeoJson(f.toString)
        Extract(id, rawId.replace("/", "_"), fileName = "", parent,
          geodeticAreaKm2(geom), url.asText(), geom)
      }
    }
    withFileNames(rows.sortBy(e => (e.area, e.id)))
  }

  /** Read a cached index parquet (the format the reference persists,
    * extract.py:152-156: plain parquet, WKB geometry column). Enforces the
    * expected-columns contract the way the reference invalidates outdated
    * caches (extract.py:138-150) — here a hard error, since there is no
    * re-download path. */
  def loadParquet(spark: SparkSession, path: String): Seq[Extract] = {
    val df = spark.read.parquet(path)
    val got = df.columns.toSet
    require(got == ExpectedColumns.toSet,
      s"extract index has outdated structure: expected $ExpectedColumns, " +
        s"got ${df.columns.toSeq.sorted} (ref: OsmExtractIndexOutdatedWarning)")
    val reader = new org.locationtech.jts.io.WKBReader()
    df.select("id", "name", "file_name", "parent", "area", "url", "geometry")
      .collect().toSeq.map { r =>
        Extract(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          r.getDouble(4), r.getString(5),
          reader.read(r.getAs[Array[Byte]](6)))
      }
  }

  /** File-name slug: lowercase, whitespace→`_`, diacritics stripped to
    * ASCII, every other character dropped (extract.py:315-322; the
    * reference's `anyascii` transliteration is approximated with NFD
    * decomposition — identical for Latin-script names, which is all
    * Geofabrik/BBBike ids use). */
  def slugify(value: String): String = {
    val ascii = java.text.Normalizer
      .normalize(value.trim.toLowerCase(java.util.Locale.ROOT), java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")
    ascii.replaceAll("\\s+", "_").replaceAll("[^a-z0-9_-]+", "")
  }

  /** Full file names from the parent chain: child-to-root slugs reversed
    * and joined with `_`; the walk ends at the first id not present in the
    * index (the source name itself), which is appended as-is slugified
    * (extract.py:325-344). E.g. Geofabrik monaco → geofabrik_europe_monaco. */
  private def withFileNames(rows: Seq[Extract]): Seq[Extract] = {
    val byId = rows.map(e => e.id -> e).toMap
    rows.map { e =>
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      var current = e.id
      var done = false
      while (!done) byId.get(current) match {
        case Some(row) => parts += slugify(row.name); current = row.parent
        case None => parts += slugify(current); done = true
      }
      // NO extension — the reference's file_name column is the bare slug
      // chain (extract.py:330-342); `.osm.pbf` is appended at download time
      e.copy(fileName = parts.reverse.mkString("_"))
    }
  }

  /** Find one extract by free-text query — the resolution behind the
    * reference's `convert_osm_extract_to_parquet`
    * (`osm_extracts/__init__.py:283-380`): exact full-file-name match
    * first, then exact name match (both case-insensitive with `_`↔space
    * equivalence); several name matches pick the smallest (area, id) when
    * `selectFirstMatch` (else error, listing the matching full names);
    * zero matches error with close-match suggestions. */
  def findByQuery(index: Seq[Extract], query: String,
      selectFirstMatch: Boolean = true): Extract = {
    def norm(s: String) = s.trim.toLowerCase(java.util.Locale.ROOT)
    def normSp(s: String) = norm(s).replace('_', ' ')
    val q = norm(query)
    val qSp = normSp(query)
    val byFile = index.filter(e =>
      norm(e.fileName) == q || normSp(e.fileName) == qSp)
    if (byFile.size == 1) return byFile.head
    val byName = index.filter(e =>
      norm(e.name) == q || normSp(e.name) == qSp)
    byName match {
      case Seq(one) => one
      case Seq() =>
        val close = index.map(_.name.toLowerCase(java.util.Locale.ROOT)).distinct
          .map(n => (n, similarity(q, n))).filter(_._2 >= 0.7)
          .sortBy(-_._2).take(5).map(_._1)
        val suggestions =
          if (close.isEmpty) "Zero close matches have been found."
          else "Found names close to query: " + close.mkString(", ") + "."
        throw new NoSuchElementException(
          s"""Zero extracts matched by query "$query". $suggestions""")
      case many if selectFirstMatch =>
        many.minBy(e => (e.area, e.id))
      case many =>
        throw new IllegalArgumentException(
          s"""Multiple extracts matched by query "$query": """ +
            many.map(_.fileName).sorted.mkString(", "))
    }
  }

  /** Normalized similarity for zero-match suggestions (difflib-ratio
    * stand-in): 1 - levenshtein/maxLen. Only feeds error-message hints. */
  private def similarity(a: String, b: String): Double = {
    if (a == b) return 1.0
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    1.0 - d(a.length)(b.length).toDouble / math.max(a.length, b.length)
  }

  /** WGS84 authalic radius (m) — the sphere with the ellipsoid's area. */
  private val EarthRadiusM = 6371007.1809

  /** Geodetic polygon area in km², spherical-excess approximation over the
    * authalic sphere (Chamberlain & Duquette 2007, the formula turf.js and
    * other geo libraries use). The reference computes ellipsoidal area via
    * pyproj (extract.py:305-311); the spherical value deviates < ~0.3%,
    * and the index uses area only for sorting and cover tie-breaks. */
  def geodeticAreaKm2(g: Geometry): Double = {
    def ringArea(cs: Array[org.locationtech.jts.geom.Coordinate]): Double = {
      var s = 0.0
      var i = 0
      while (i < cs.length - 1) {
        val l1 = math.toRadians(cs(i).x)
        val l2 = math.toRadians(cs(i + 1).x)
        val p1 = math.toRadians(cs(i).y)
        val p2 = math.toRadians(cs(i + 1).y)
        s += (l2 - l1) * (2 + math.sin(p1) + math.sin(p2))
        i += 1
      }
      math.abs(s * EarthRadiusM * EarthRadiusM / 2.0)
    }
    def polyArea(p: Polygon): Double = {
      val shell = ringArea(p.getExteriorRing.getCoordinates)
      val holes = (0 until p.getNumInteriorRing)
        .map(i => ringArea(p.getInteriorRingN(i).getCoordinates)).sum
      math.max(0.0, shell - holes)
    }
    val m2 = (0 until g.getNumGeometries).map(g.getGeometryN).map {
      case p: Polygon => polyArea(p)
      case _ => 0.0 // points/lines contribute no area
    }.sum
    math.rint(m2) / 1e6
  }
}
