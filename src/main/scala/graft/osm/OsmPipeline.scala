package graft.osm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.osm.TagFilters._

/** The reference's PBF→GeoParquet conversion DAG (SURVEY §3.1,
  * /root/reference/quackosm/pbf_file_reader.py:1527-3669) re-expressed as a
  * single lazy Spark plan.
  *
  * Where the reference materializes ~20 intermediate Parquet stages and
  * manages memory with retry ladders (SURVEY §4 — not ported), this pipeline
  * is one declarative DAG: Catalyst prunes columns into the PBF scan, the
  * id-cascade is left_semi/left_anti joins, and the multiply-consumed cuts
  * (per-kind views, node points, unnested refs, id closures, vertex
  * arrays — the reference's materialized prefilter boundary) are persisted
  * for the duration of the conversion and released through the conversion's
  * own [[ConversionCuts]] handle ([[featuresWithCuts]]) or, for the legacy
  * no-handle [[features]] overload, via [[releaseCuts]].
  *
  * Scale notes:
  *  - node→way vertex join shuffles on node id; way groupBy shuffles on way
  *    id — both keys are high-cardinality and skew-free (OSM ids).
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
    private val dfs = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private[osm] def add(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      dfs.add(p)
      p
    }
    /** Unpersist every cut this conversion created. Idempotent; safe once
      * nothing is still consuming the conversion's DataFrame. */
    def release(): Unit = {
      var df = dfs.poll()
      while (df != null) {
        try df.unpersist(blocking = false) catch { case scala.util.control.NonFatal(_) => () }
        df = dfs.poll()
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
    // for ITS small workload would otherwise run the conversion's ~12
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

    // --- geometry filter: bbox pushdown + exact test (F7+F8) ---
    // The slim id/x/y projection of every node is the pipeline's most
    // reused cut (ref-closure, way assembly, node features, geometry
    // filter) — the reference materializes it as its nodes_valid_with_tags
    // parquet (pbf_file_reader.py:1546-1573); here it's a persisted
    // 20-byte-per-node columnar cut.
    val nodePointsAll = cut(nodes.select(col("id"),
      round(col("lon"), 7).as("x"), round(col("lat"), 7).as("y")))
    val intersectingNodeIds: Option[DataFrame] = opts.geometryWkt.map { wkt =>
      val env = new org.locationtech.jts.io.WKTReader().read(wkt).getEnvelopeInternal
      val pig = new PointInGeom(wkt)
      val exact = udf((x: Double, y: Double) => pig.contains(x, y))
      nodePointsAll
        .filter(col("x").between(env.getMinX, env.getMaxX) &&
          col("y").between(env.getMinY, env.getMaxY)) // cheap prefilter first
        .filter(exact(col("x"), col("y")))
        .select(col("id"))
    }

    // --- unnested refs (G1, pbf_file_reader.py:2238-2271) ---
    // Both unnested-ref cuts feed 3-4 consumers (validity closure,
    // intersection cascade, assembly) — persisted like the reference's
    // ways_required_ids / relations_ids stages (128 MB-file id stages).
    val wayRefs = cut(ways.select(col("id"),
      posexplode(col("refs")).as(Seq("ref_idx", "ref"))))
    val relRefs = cut(relations.select(col("id"),
      posexplode(arrays_zip(col("refs"), col("ref_types"), col("ref_roles")))
        .as(Seq("ref_idx", "m")))
      .select(col("id"), col("ref_idx"), col("m.refs").as("ref"),
        col("m.ref_types").as("ref_type"), col("m.ref_roles").as("ref_role"))
      .filter(col("ref_type") === "way"))

    // --- ref-closure validity (J2, pbf_file_reader.py:2430-2476) ---
    val nodeIds = nodePointsAll.select(col("id").as("ref"))
    val invalidWayIds = wayRefs.join(nodeIds, Seq("ref"), "left_anti")
      .select(col("id")).distinct()
    val validWayIds = cut(ways.select(col("id"))
      .join(invalidWayIds, Seq("id"), "left_anti")) // 3 consumers, ids only
    val invalidRelIds = relRefs
      .join(validWayIds.withColumnRenamed("id", "ref"), Seq("ref"), "left_anti")
      .select(col("id")).distinct()
    val validRelIds = relations.select(col("id"))
      .join(invalidRelIds, Seq("id"), "left_anti")

    // --- filtered (feature) id sets, with geometry intersection ---
    val nodesFiltered0 = nodes.filter(matchClause(nodes)).select(col("id"), col("tags"))
    val nodesFiltered = intersectingNodeIds match {
      case Some(ids) => nodesFiltered0.join(ids, Seq("id"), "left_semi")
      case None => nodesFiltered0
    }
    // Intersection cascade only exists when a geometry filter does — with
    // None these semi joins would be full-identity (every id passes) yet
    // still shuffle both sides; the reference's no-filter fast path skips
    // the stages entirely (pbf_file_reader.py:2170-2428), and so do we.
    val waysIntersected: Option[DataFrame] = intersectingNodeIds.map { ids =>
      wayRefs.join(ids.withColumnRenamed("id", "ref"), Seq("ref"), "left_semi")
        .select(col("id")).distinct()
    }
    val waysFiltered0 = ways.filter(matchClause(ways))
      .select(col("id"), col("tags"))
    val waysFiltered = waysIntersected.fold(waysFiltered0)(ids =>
        waysFiltered0.join(ids, Seq("id"), "left_semi"))
      .join(validWayIds, Seq("id"), "left_semi")
    val relsIntersected: Option[DataFrame] = waysIntersected.map { wids =>
      relRefs.join(wids.withColumnRenamed("id", "ref"),
        Seq("ref"), "left_semi").select(col("id")).distinct()
    }
    val relsFiltered0 = relations.filter(matchClause(relations))
      .select(col("id"), col("tags"))
    val relsFiltered = cut(relsIntersected.fold(relsFiltered0)(ids =>
        relsFiltered0.join(ids, Seq("id"), "left_semi"))
      .join(validRelIds, Seq("id"), "left_semi")) // member cascade + output join

    // --- required way set: members of kept relations (J1 cascade) ---
    val requiredWayIds = relRefs
      .join(relsFiltered.select(col("id")), Seq("id"), "left_semi")
      .select(col("ref").as("id")).distinct()
      .join(validWayIds, Seq("id"), "left_semi")

    // --- way vertex assembly (A1, pbf_file_reader.py:3162-3198) ---
    val waysToBuild = waysFiltered.select(col("id"))
      .union(requiredWayIds).distinct()
    val wayCoords = cut(wayRefs
      .join(waysToBuild, Seq("id"), "left_semi")
      .join(nodePointsAll.withColumnRenamed("id", "ref"), Seq("ref"))
      .groupBy(col("id"))
      .agg(transform(
        sort_array(collect_list(struct(col("ref_idx"), col("x"), col("y")))),
        p => array(p.getField("x"), p.getField("y")))
        .as("coords"))) // reused by ways + relations

    // --- node features (pbf_file_reader.py:2850-2871) ---
    val strippedNonEmpty = size(stripMetadataTags(col("tags"))) > 0
    val outTags: Column =
      if (opts.keepAllTags) col("tags") else stripMetadataTags(col("tags"))
    val nodeFeatures = nodesFiltered
      .filter(strippedNonEmpty)
      .join(nodePointsAll, Seq("id"))
      .select(concat(lit("node/"), col("id")).as("feature_id"),
        outTags.as("tags"),
        GeomUdfs.point_wkb(col("x"), col("y")).as("geometry"))

    // --- way features: polygon-vs-linestring (pbf_file_reader.py:3200-3282) ---
    val wayFeatures = waysFiltered
      .filter(strippedNonEmpty)
      .withColumn("raw_tags", col("tags"))
      .join(wayCoords, Seq("id"))
      .withColumn("is_polygon", WayPolygonConfig.isPolygon(
        col("raw_tags"), isClosed(col("coords")), nPointsDedup(col("coords"))))
      .select(concat(lit("way/"), col("id")).as("feature_id"),
        outTags.as("tags"),
        when(col("is_polygon"), GeomUdfs.polygon_wkb(col("coords")))
          .otherwise(GeomUdfs.line_wkb(col("coords"))).as("geometry"))
      .filter(col("geometry").isNotNull)

    // --- relation assembly (pbf_file_reader.py:3306-3463) ---
    val memberLines = relRefs
      .join(relsFiltered.select(col("id")), Seq("id"), "left_semi")
      .join(wayCoords.withColumnRenamed("id", "ref"), Seq("ref"))
      .select(col("id"), coalesce(col("ref_role"), lit("outer")).as("ref_role"),
        col("coords"))
    val anyOuter = memberLines.groupBy(col("id"))
      .agg(max(col("ref_role") === "outer").as("any_outer"))
    val rings = memberLines
      .join(anyOuter, Seq("id"))
      .withColumn("role", when(col("any_outer"), col("ref_role")).otherwise(lit("outer")))
      .groupBy(col("id"), col("role"))
      .agg(GeomUdfs.linemerge_dump(collect_list(col("coords"))).as("merged"))
      .select(col("id"), col("role"), explode(col("merged")).as("ring"))
      .filter(nPointsDedup(col("ring")) >= 4)
      .withColumn("geometry_id", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("role"), size(col("ring")),
          element_at(col("ring"), 1))))
    val validRingRels = rings.groupBy(col("id"))
      .agg(min(isClosed(col("ring"))).as("all_closed"))
      .filter(col("all_closed")).select(col("id"))
    val validRings = cut(rings.join(validRingRels, Seq("id"), "left_semi")
      .withColumn("polygon", GeomUdfs.polygon_wkb(col("ring")))
      .filter(col("polygon").isNotNull)) // reused 3× below
    val inner = validRings.filter(col("role") === "inner")
      .select(col("id"), col("polygon").as("inner_poly"))
    // ref_role = 'outer' exactly (pbf_file_reader.py:3323): members with
    // non-standard roles (e.g. "part") are excluded from BOTH inner and
    // outer sets, matching the reference.
    val outer = validRings.filter(col("role") === "outer")
      .select(col("id"), col("geometry_id"), col("polygon"))
    val outerWithHoles = outer.join(inner, Seq("id"))
      .filter(GeomUdfs.within(col("inner_poly"), col("polygon")))
      .groupBy(col("id"), col("geometry_id"))
      .agg(GeomUdfs.subtract_holes(first(col("polygon")),
        collect_list(col("inner_poly"))).as("geometry"))
    val outerWithoutHoles = outer
      .join(outerWithHoles.select(col("id"), col("geometry_id")),
        Seq("id", "geometry_id"), "left_anti")
      .select(col("id"), col("geometry_id"), col("polygon").as("geometry"))
    val relGeoms = outerWithHoles.select(col("id"), col("geometry"))
      .unionByName(outerWithoutHoles.select(col("id"), col("geometry")))
      .groupBy(col("id"))
      // typed Aggregator: unions inside partial-agg buffers (map-side
      // combine), not via a collected list — bounded per-group memory
      .agg(UnionAggregator.union_agg(col("geometry")).as("geometry"))
      .filter(!GeomUdfs.is_empty(col("geometry")))
    val relFeatures = relsFiltered
      .filter(strippedNonEmpty)
      .join(relGeoms, Seq("id"))
      .select(concat(lit("relation/"), col("id")).as("feature_id"),
        outTags.as("tags"), col("geometry"))

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
          k === key && vs.map(x =>
            if (x.contains("*")) v.like(x.replace("*", "%")) else v === x)
            .reduce(_ || _)
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
          when(vs.map(x =>
            if (x.contains("*")) v.like(x.replace("*", "%")) else v === x)
            .reduce(_ || _), concat(lit(k), lit("="), v))
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
