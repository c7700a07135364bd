package graft.osm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.osm.TagFilters._

/** The reference's PBF→GeoParquet conversion DAG (SURVEY §3.1,
  * /root/reference/quackosm/pbf_file_reader.py:1527-3669) re-expressed as a
  * single lazy Spark plan.
  *
  * Where the reference materializes ~20 intermediate Parquet stages and
  * manages memory with retry ladders (SURVEY §4 — not ported), this pipeline
  * is one declarative DAG: Catalyst prunes columns into the PBF scan, each
  * reference level (way → node, relation → way) is ONE left join plus one
  * group-by that yields the geometry inputs and the ref-closure validity
  * together, and each relation is assembled by one kernel call per row
  * ([[GeomUdfs.relationWkb]]). The cuts read more than once (the per-kind
  * views and the way vertices) are persisted for the duration of the
  * conversion and released through the conversion's own
  * [[ConversionCuts]] handle ([[featuresWithCuts]]) or, for the legacy
  * no-handle [[features]] overload, via [[releaseCuts]].
  *
  * Scale notes:
  *  - the node→way vertex join shuffles on node id; the way and relation
  *    group-bys shuffle on way / relation id — high-cardinality,
  *    skew-free keys (OSM ids).
  *  - geometry objects never shuffle: vertices travel as coordinate arrays,
  *    assembled geometries as WKB.
  *  - the driver never sees data (no collect anywhere in the flow).
  */
object OsmPipeline {

  /** Exact point-in-geometry test (F8, _intersection.py:15-55): the filter
    * geometry travels as WKT in the closure; each TASK THREAD parses and
    * prepares its own copy (ThreadLocal), because JTS PreparedGeometry lazily
    * builds internal indexes on first use and is not safe for concurrent
    * queries. Preparation cost is paid once per thread per executor — zero
    * contention on the row-level hot path (the reference parallelizes this
    * exact step across processes, _parquet_multiprocessing.py:82-130). */
  private class PointInGeom(wkt: String) extends Serializable {
    @transient private lazy val local =
      new ThreadLocal[(org.locationtech.jts.geom.prep.PreparedGeometry,
          org.locationtech.jts.geom.GeometryFactory)] {
        override def initialValue() =
          (org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(
            new org.locationtech.jts.io.WKTReader().read(wkt)),
            new org.locationtech.jts.geom.GeometryFactory())
      }
    def contains(x: Double, y: Double): Boolean = {
      val (prepared, gf) = local.get()
      prepared.intersects(gf.createPoint(new org.locationtech.jts.geom.Coordinate(x, y)))
    }
  }

  case class Options(
      tagsFilter: Option[OsmTagsFilter] = None,
      groupedFilter: Option[GroupedFilter] = None,
      geometryWkt: Option[String] = None,
      customSqlFilter: Option[String] = None,
      osmIds: Seq[String] = Nil,
      keepAllTags: Boolean = false)

  /** Number of distinct consecutive points in a vertex array — codegen'd
    * equivalent of ST_NPoints(ST_RemoveRepeatedPoints(...))
    * (pbf_file_reader.py:3246). */
  private[osm] def nPointsDedup(c: Column): Column =
    size(c) - aggregate(sequence(lit(2), size(c)), lit(0),
      (acc, i) => acc + when(element_at(c, i) === element_at(c, i - 1), 1).otherwise(0))

  private[osm] def isClosed(c: Column): Column =
    element_at(c, 1) === element_at(c, -1)

  /** Handle owning the persisted intermediate cuts of ONE conversion.
    * Spark's CacheManager holds strong references until session stop, so a
    * long-lived session converting many extracts must [[ConversionCuts.release]]
    * after consuming the returned DataFrame. Per-conversion ownership means
    * two concurrent conversions can never unpersist each other's still-live
    * cached plans (the reference's equivalent is each conversion deleting
    * its OWN tmp_dir parquet stages). */
  final class ConversionCuts private[osm] () {
    private val dfs = new java.util.concurrent.ConcurrentLinkedDeque[DataFrame]()
    private[osm] def add(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      dfs.add(p)
      p
    }
    /** Unpersist every cut this conversion created, newest first.
      * Idempotent; safe once nothing is still consuming the conversion's
      * DataFrame. The order matters: unpersisting a cut makes Spark
      * re-plan every not-yet-loaded cut built on it, so oldest-first
      * re-plans the whole cascade (seconds on a city-sized input). */
    def release(): Unit = {
      var df = dfs.pollLast()
      while (df != null) {
        try df.unpersist(blocking = false) catch { case scala.util.control.NonFatal(_) => () }
        df = dfs.pollLast()
      }
    }
  }

  /** Cut handles created via the legacy no-handle [[features]] overload,
    * released in bulk by [[releaseCuts]] (single-conversion-at-a-time use
    * only; concurrent callers should use [[featuresWithCuts]]). */
  private val legacyCuts =
    new java.util.concurrent.ConcurrentLinkedQueue[ConversionCuts]()

  /** Unpersist cuts of prior no-handle `features()` calls. Safe while
    * nothing is still consuming those plans. */
  def releaseCuts(): Unit = {
    var h = legacyCuts.poll()
    while (h != null) { h.release(); h = legacyCuts.poll() }
  }

  /** Full conversion: PBF path(s) → DataFrame(feature_id, tags, geometry WKB).
    * Compact tags mode (reference default, pbf_file_reader.py:3709-3712).
    * Cuts are owned by the process-wide [[releaseCuts]]; for concurrent
    * conversions use [[featuresWithCuts]]. */
  def features(spark: SparkSession, pbfPaths: Seq[String],
      opts: Options = Options()): DataFrame = {
    val (df, cuts) = featuresWithCuts(spark, pbfPaths, opts)
    legacyCuts.add(cuts)
    df
  }

  /** The [[graft.SizePolicy]] small-input threshold (the conversion
    * runs with AQE off below it). */
  val AqeMinInputBytes: Long = graft.SizePolicy.SmallInputBytes

  /** Total size of the PBF inputs (glob-expanded); -1 if ANY path is
    * unresolvable or matches no files (treated as big → leave the session
    * untouched; the scan itself will then report the real error). */
  private def inputBytes(spark: SparkSession, pbfPaths: Seq[String]): Long =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val perPath = pbfPaths.map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        Option(fs.globStatus(hp)).filter(_.nonEmpty)
          .map(_.map(_.getLen).sum).getOrElse(-1L)
      }
      if (perPath.exists(_ < 0)) -1L else perPath.sum
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** The raw element scan with the J3 multi-extract dedup
    * (pbf_file_reader.py:1126-1139): overlapping extract files carry
    * the same element twice — dedup by (kind, id) before any assembly
    * so duplicate refs can't corrupt vertex sequences. Single-file
    * reads skip the extra shuffle. ONE loader shared by the conversion
    * and [[RelationValidity.classify]] — the validity oracle must judge
    * exactly the element set the conversion assembles, so the dedup
    * rule cannot be allowed to drift between them. */
  private[osm] def elementScan(spark: SparkSession,
      pbfPaths: Seq[String]): DataFrame = {
    val raw = spark.read.format("osmpbf").load(pbfPaths: _*)
    if (pbfPaths.size > 1) raw.dropDuplicates("kind", "id") else raw
  }

  /** [[features]] returning the conversion's own cut handle: call
    * `cuts.release()` once the DataFrame has been consumed. */
  def featuresWithCuts(spark0: SparkSession, pbfPaths: Seq[String],
      opts: Options = Options()): (DataFrame, ConversionCuts) = {
    // Conversion-scoped execution tuning (graft.SizePolicy): a small
    // input runs in a cloned session (same SparkContext, same cache, own
    // SQLConf) with AQE off and input-sized shuffles, without mutating
    // the caller's session or affecting anything else running in it.
    // The returned DataFrame is bound to the clone, so every later action
    // on it (stats pass, sort, write, count) inherits the setting. It
    // applies whether or not the caller's session already has AQE off:
    // the shuffle sizing matters on its own (a caller that disabled AQE
    // for ITS small workload would otherwise run the conversion's
    // shuffle stages at its full partition count — measured 6.1 s vs
    // 5.0 s on monaco at 32 vs 4 partitions).
    val spark = graft.SizePolicy.sessionFor("OsmPipeline.featuresWithCuts",
      spark0, inputBytes(spark0, pbfPaths))
    val cuts = new ConversionCuts()
    def cut(df: DataFrame): DataFrame = cuts.add(df)
    val elements = elementScan(spark, pbfPaths)

    // --- base per-kind views (F1, pbf_file_reader.py:1546-1573) ---
    // Persisted column-pruned, one per kind: every downstream consumer
    // (refs unnest, validity closure, tag filter) otherwise re-decodes the
    // PBF blobs. The reference's first act is materializing exactly this
    // split to parquet (nodes_valid_with_tags / ways_* / relations_*).
    val nodes = cut(elements
      .filter(col("kind") === "node" && col("lat").isNotNull && col("lon").isNotNull)
      .select(col("kind"), col("id"), col("tags"), col("lat"), col("lon")))
    val ways = cut(elements.filter(col("kind") === "way" && size(col("refs")) >= 2)
      .select(col("kind"), col("id"), col("tags"), col("refs")))
    val relations = cut(elements.filter(col("kind") === "relation" &&
      size(col("refs")) > 0 &&
      element_at(col("tags"), "type").isin("boundary", "multipolygon"))
      .select(col("kind"), col("id"), col("tags"), col("refs"),
        col("ref_types"), col("ref_roles")))

    // --- user filter clause over raw tags (F2/F5/F6/F9) ---
    def matchClause(df: DataFrame): Column = {
      val tagsNonEmpty = size(col("tags")) > 0
      val tagC = opts.groupedFilter
        .map(g => compileGrouped(g, col("tags")))
        .orElse(opts.tagsFilter.map { f =>
          compile(expandWildcardKeys(f, elements), col("tags"))
        })
        .getOrElse(lit(true))
      val customC = opts.customSqlFilter.map(expr).getOrElse(lit(true))
      val idsC =
        if (opts.osmIds.isEmpty) lit(true)
        else osmIdsClause(opts.osmIds, col("kind"), col("id"))
      tagsNonEmpty && tagC && customC && idsC
    }

    // --- geometry filter: bbox prefilter + exact test (F7+F8) ---
    // Node coordinates at the reference's 7-decimal precision. With a
    // geometry filter, `inGeometry` marks a point inside it: nodes test
    // their own point, and a way or relation is kept when any of its
    // vertices is marked (the reference's intersect cascade,
    // pbf_file_reader.py:2170-2428, carried as a column, not joins).
    val x = round(col("lon"), 7)
    val y = round(col("lat"), 7)
    val inGeometry: Option[Column] = opts.geometryWkt.map { wkt =>
      val env = new org.locationtech.jts.io.WKTReader().read(wkt).getEnvelopeInternal
      val pig = new PointInGeom(wkt)
      val exact = udf((lon: Double, lat: Double) => pig.contains(lon, lat))
      x.between(env.getMinX, env.getMaxX) &&
        y.between(env.getMinY, env.getMaxY) && // cheap prefilter first
        exact(x, y)
    }
    val hit = inGeometry.map(_ => col("hit")).toSeq
    def anyHit(df: DataFrame): DataFrame =
      if (inGeometry.isEmpty) df else df.filter(col("hit"))

    // --- way vertices + ref closure (A1+J2, pbf_file_reader.py:2430-2476,
    // 3162-3198) ---
    // One left join of every way ref to the node points, grouped by way:
    // the vertex array in ref order, and `valid` iff no ref is missing.
    // Persisted: way features and relation members both read it.
    val nodePoints = nodes.select(Seq(col("id").as("ref"), x.as("x"),
      y.as("y")) ++ inGeometry.map(_.as("hit")): _*)
    val wayVertices = cut(ways
      .select(col("id"), posexplode(col("refs")).as(Seq("ref_idx", "ref")))
      .join(nodePoints, Seq("ref"), "left")
      .groupBy(col("id"))
      .agg((count(col("x")) === count(lit(1))).as("valid"),
        transform(
          sort_array(collect_list(struct(col("ref_idx"), col("x"), col("y")))),
          p => array(p.getField("x"), p.getField("y"))).as("coords") +:
        hit.map(max(_).as("hit")): _*))
    val validWays = wayVertices.filter(col("valid"))

    // --- features per kind: user filters first, then geometry ---
    val strippedNonEmpty = size(stripMetadataTags(col("tags"))) > 0
    def kept(df: DataFrame): DataFrame =
      df.filter(matchClause(df) && strippedNonEmpty)
    val outTags: Column =
      if (opts.keepAllTags) col("tags") else stripMetadataTags(col("tags"))
    // A geometry UDF's null (no geometry) drops its row through a
    // generator: a null filter would be pushed below the projection and
    // run the UDF twice per row.
    def orDrop(geometry: Column): Column =
      explode(filter(array(geometry), _.isNotNull)).as("geometry")

    // node features (pbf_file_reader.py:2850-2871)
    val nodeFeatures = kept(nodes)
      .filter(inGeometry.getOrElse(lit(true)))
      .select(concat(lit("node/"), col("id")).as("feature_id"),
        outTags.as("tags"), GeomUdfs.point_wkb(x, y).as("geometry"))

    // way features: polygon-vs-linestring on the RAW tags
    // (pbf_file_reader.py:3200-3282)
    val wayFeatures = kept(ways).select(col("id"), col("tags"))
      .join(anyHit(validWays), Seq("id"))
      .select(concat(lit("way/"), col("id")).as("feature_id"),
        outTags.as("tags"),
        orDrop(when(WayPolygonConfig.isPolygon(col("tags"),
            isClosed(col("coords")), nPointsDedup(col("coords"))),
          GeomUdfs.polygon_wkb(col("coords")))
          .otherwise(GeomUdfs.line_wkb(col("coords")))))

    // relation features (pbf_file_reader.py:3306-3463): the kept
    // relations' way members left-joined to the valid ways and grouped by
    // relation — `valid` iff every member way is valid — then one
    // assembly kernel per relation row (GeomUdfs.relationWkb)
    val rels = kept(relations)
    val relGeoms = rels
      .select(col("id"), posexplode(arrays_zip(col("refs"), col("ref_types"),
        col("ref_roles"))).as(Seq("ref_idx", "m")))
      .filter(col("m.ref_types") === "way")
      .select(col("id"), col("ref_idx"), col("m.refs").as("ref"),
        col("m.ref_roles").as("role"))
      .join(validWays.select(Seq(col("id").as("ref"), col("coords")) ++ hit: _*),
        Seq("ref"), "left")
      .groupBy(col("id"))
      .agg((count(col("coords")) === count(lit(1))).as("valid"),
        sort_array(collect_list(struct(col("ref_idx"), col("role"),
          col("coords")))).as("members") +:
        hit.map(max(_).as("hit")): _*)
      .filter(col("valid"))
    val relFeatures = rels.select(col("id"), col("tags"))
      .join(anyHit(relGeoms), Seq("id"))
      .select(concat(lit("relation/"), col("id")).as("feature_id"),
        outTags.as("tags"),
        orDrop(GeomUdfs.relation_wkb(transform(col("members"), _.getField("role")),
          transform(col("members"), _.getField("coords")))))

    // --- concatenate + ST_MakeValid (pbf_file_reader.py:3606-3669) ---
    (nodeFeatures.unionByName(wayFeatures).unionByName(relFeatures)
      .withColumn("geometry", GeomUdfs.make_valid(col("geometry"))), cuts)
  }

  /** T2: compact-mode tag subsetting (pbf_file_reader.py:3729-3763) —
    * rebuild the map keeping only entries that match the positive filter
    * (keys in the filter whose values satisfy it). */
  def filterTagsToMatched(features: DataFrame, filter: OsmTagsFilter): DataFrame = {
    val keep = (k: Column, v: Column) =>
      filter.toSeq.collect {
        case (key, TagFilters.AnyValue) => k === key
        case (key, TagFilters.Values(vs)) =>
          k === key && TagFilters.valueMatches(v, vs)
      }.reduceOption(_ || _).getOrElse(lit(false))
    features.withColumn("tags", map_filter(col("tags"), keep))
      .filter(size(col("tags")) > 0)
  }

  /** T4: drop all-null columns from an exploded-schema result
    * (pbf_file_reader.py:3991-4017) — one aggregated stats row collected
    * to the driver (bounded by column count), then a plain projection. */
  def dropEmptyColumns(df: DataFrame): DataFrame = {
    val candidates = df.columns.filter(c => c != "feature_id" && c != "geometry")
    if (candidates.isEmpty) df
    else {
      val counts = df.agg(
        count(when(col(candidates.head).isNotNull, 1)).as(candidates.head),
        candidates.tail.toIndexedSeq.map(c => count(when(col(c).isNotNull, 1)).as(c)): _*)
        .head()
      val empty = candidates.zipWithIndex
        .filter { case (_, i) => counts.getLong(i) == 0L }.map(_._1)
      df.drop(empty.toIndexedSeq: _*)
    }
  }

  /** T3: grouped-filter group columns (pbf_file_reader.py:3811-3946).
    * Exploded mode: one string column per group holding the first matching
    * `key=value` (CASE chain compiled to coalesce(when...)); compact mode:
    * a map group→match with non-matching groups absent. */
  def groupedTagColumns(features: DataFrame, grouped: GroupedFilter,
      explode: Boolean = true): DataFrame = {
    def groupValue(f: OsmTagsFilter): Column = {
      val parts = f.toSeq.sortBy(_._1).collect {
        case (k, TagFilters.AnyValue) =>
          when(element_at(col("tags"), k).isNotNull,
            concat(lit(k), lit("="), element_at(col("tags"), k)))
        case (k, TagFilters.Values(vs)) =>
          val v = element_at(col("tags"), k)
          when(TagFilters.valueMatches(v, vs), concat(lit(k), lit("="), v))
      }
      if (parts.isEmpty) lit(null).cast("string") else coalesce(parts: _*)
    }
    val names = grouped.keys.toSeq.sorted
    if (explode) {
      val cols = Seq(col("feature_id")) ++
        names.map(n => groupValue(grouped(n)).as(n)) :+ col("geometry")
      features.select(cols: _*)
    } else {
      val m = map_filter(
        map_from_arrays(
          array(names.map(lit): _*),
          array(names.map(n => groupValue(grouped(n))): _*)),
        (_, v) => v.isNotNull)
      features.select(col("feature_id"), m.as("tags"), col("geometry"))
    }
  }

  /** Exploded-schema guardrails: past [[WideSchemaWarnColumns]] tag columns
    * the reference warns that the query may exhaust memory
    * (pbf_file_reader.py:3800-3807); past `maxColumns` we additionally CAP
    * the schema — an unfiltered OSM planet has >80k distinct tag keys, and
    * a multi-thousand-column row blows both codegen (64k JVM method limit
    * splits) and the parquet footer. The cap keeps the first `maxColumns`
    * keys in sorted order and logs every dropped key count (never a silent
    * truncation); dropped keys stay queryable through the compact `tags`
    * map column. */
  val WideSchemaWarnColumns = 100

  /** T1: explode tags to one string column per key
    * (pbf_file_reader.py:3713-3798). Key list comes from the filter when
    * given, else from the data (driver-side distinct-key collect, bounded
    * by tag vocabulary). */
  def explodeTags(features: DataFrame, keys: Seq[String] = Nil,
      maxColumns: Int = 1000): DataFrame = {
    require(maxColumns >= 1, s"maxColumns must be >= 1, got $maxColumns")
    val log = org.slf4j.LoggerFactory.getLogger(OsmPipeline.getClass)
    val keyList =
      if (keys.nonEmpty) keys
      else features.select(explode(map_keys(col("tags"))).as("k"))
        .distinct().orderBy("k").collect().map(_.getString(0)).toSeq
    val kept =
      if (keyList.size <= maxColumns) keyList
      else {
        log.warn(s"explodeTags: capping ${keyList.size} tag columns to " +
          s"$maxColumns (dropped ${keyList.size - maxColumns}; dropped keys " +
          "remain available via the compact tags map — pass a tags filter " +
          "or raise maxColumns to widen)")
        keyList.take(maxColumns)
      }
    if (kept.size > WideSchemaWarnColumns)
      log.warn(s"explodeTags: select clause contains more than " +
        s"$WideSchemaWarnColumns columns (found ${kept.size}). Query might " +
        "fail with insufficient memory resources. Consider applying a more " +
        "restrictive tags filter (ref: pbf_file_reader.py:3800-3807).")
    val cols = Seq(col("feature_id")) ++
      kept.map(k => element_at(col("tags"), k).as(k)) :+ col("geometry")
    features.select(cols: _*)
  }
}
