package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OSM relation-validity classification — the Spark port of the
  * reference's GDAL-parity exemption oracles
  * (tests/base/test_pbf_file_reader.py:698-837): when a conversion DROPS
  * a boundary/multipolygon relation, these two checks decide whether the
  * relation was OSM-invalid (drop is principled) or the pipeline lost a
  * valid feature (a real bug). The reference exempts a missing relation
  * iff `NOT (tag_valid AND geom_valid)` (:918-928); this module states
  * the same classification over ANY input via the engine's own PBF scan,
  * so a divergence on a NEW extract is explainable, not just
  * hash-detectable.
  *
  * Scale shape: candidates are one filter over the relation stripe (kind
  * pushdown reaches the scan), membership closure is two semi joins
  * (ways of candidate relations, nodes of those ways), geometry is the
  * same collect-by-ref-order + linemerge shape the conversion itself
  * uses — all shuffles keyed by ids, nothing corpus-wide. */
object RelationValidity {

  /** One row per CANDIDATE relation — kind='relation', non-empty refs,
    * tags['type'] ∈ {boundary, multipolygon} (the reference's candidate
    * predicate, :705-708). Columns:
    *  - `relation_id`
    *  - `tag_valid`   — an EXPLICIT 'outer' member role exists
    *                    (`check_..._based_on_tags`, :698-710);
    *  - `geom_valid`  — after way-member linemerge, ≥1 effective-outer
    *                    ring with ≥4 distinct points exists and ALL such
    *                    rings are closed (`check_..._based_on_geometry`,
    *                    :712-837, including the roles-coalesce and
    *                    no-explicit-outer fallback semantics);
    *  - `has_clean_tags` — ≥1 non-metadata tag survives stripping (a
    *                    relation without one never enters the reference's
    *                    GDAL-parity candidate set);
    *  - `refs_complete` — every way member exists in the extract and
    *                    every one of those ways' nodes does too. The
    *                    reference oracle has no such column because it
    *                    only ever classifies features GDAL emitted —
    *                    extract-boundary-clipped relations never reach
    *                    it; the conversion's ref-closure stage
    *                    (pbf_file_reader.py:2430-2476, ported as the
    *                    `valid` column of OsmPipeline's way-vertex and
    *                    relation-member group-bys) drops them, so a
    *                    self-check over
    *                    ALL candidates must name that class explicitly
    *                    (monaco drops 1369191 and 5197022 this way). */
  def classify(spark: SparkSession, pbfPaths: Seq[String]): DataFrame = {
    // the SAME loader (and J3 multi-extract dedup) the conversion runs
    // ([[OsmPipeline.elementScan]]): an oracle classifying duplicated
    // relations would emit duplicate candidate rows and judge ref
    // closures against doubled member sets — and a dedup rule living in
    // two places would silently desynchronize the day one changes
    val elems = OsmPipeline.elementScan(spark, pbfPaths)
    val cand = elems
      .filter(col("kind") === "relation" && size(col("refs")) > 0 &&
        col("tags").getItem("type").isin("boundary", "multipolygon"))
      .select(col("id"), col("refs"), col("ref_types"), col("ref_roles"),
        array_contains(col("ref_roles"), "outer").as("tag_valid"),
        (size(TagFilters.stripMetadataTags(col("tags"))) > 0)
          .as("has_clean_tags"))
    // way members with roles coalesced to 'outer' (:748-752)
    val members = cand
      .select(col("id"),
        posexplode(arrays_zip(col("refs"), col("ref_types"),
          col("ref_roles"))).as(Seq("i", "m")))
      .filter(col("m.ref_types") === "way")
      .select(col("id"), col("m.refs").as("way_id"),
        coalesce(col("m.ref_roles"), lit("outer")).as("role"))
    // membership closure: only the candidate relations' ways and those
    // ways' nodes are assembled (semi joins — ids only move)
    val wayNodeRefs = elems.filter(col("kind") === "way")
      .join(members.select(col("way_id").as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("id").as("way_id"),
        posexplode(col("refs")).as(Seq("ref_idx", "node_id")))
    val nodePts = elems.filter(col("kind") === "node")
      .join(wayNodeRefs.select(col("node_id").as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("id").as("node_id"), col("lon").as("x"),
        col("lat").as("y"))
    val wayCoords = wayNodeRefs.join(nodePts, "node_id")
      .groupBy(col("way_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("ref_idx"), col("x"),
          col("y")))),
        p => array(p.getField("x"), p.getField("y"))).as("coords"))
    // no-explicit-outer fallback: when NO way member carries 'outer',
    // every merged part counts as outer (:788-792, 818-822)
    val anyOuter = members.groupBy(col("id"))
      .agg(max(col("role") === "outer").as("any_outer"))
    val rings = members.join(wayCoords, "way_id")
      .groupBy(col("id"), col("role"))
      .agg(GeomUdfs.linemerge_dump(collect_list(col("coords")))
        .as("merged"))
      .join(anyOuter, "id")
      .select(col("id"),
        when(col("any_outer"), col("role")).otherwise(lit("outer"))
          .as("eff_role"),
        explode(col("merged")).as("ring"))
      .filter(OsmPipeline.nPointsDedup(col("ring")) >= 4)
    val geomValid = rings.filter(col("eff_role") === "outer")
      .groupBy(col("id"))
      .agg(min(OsmPipeline.isClosed(col("ring"))).as("geom_valid"))
    // ref closure: way members absent from the extract, or present with
    // missing nodes, make the relation unassemblable for the conversion
    val incompleteWays = wayNodeRefs
      .join(elems.filter(col("kind") === "node")
          .select(col("id").as("node_id")),
        Seq("node_id"), "left_anti")
      .select(col("way_id")).distinct()
    val incompleteRels = members
      .join(elems.filter(col("kind") === "way")
          .select(col("id").as("way_id")),
        Seq("way_id"), "left_anti")
      .select(col("id"))
      .union(members.join(incompleteWays, Seq("way_id"))
        .select(col("id")))
      .distinct()
      .withColumn("_g_incomplete", lit(true))
    cand.select(col("id"), col("tag_valid"), col("has_clean_tags"))
      .join(geomValid, Seq("id"), "left")
      .join(incompleteRels, Seq("id"), "left")
      .select(col("id").as("relation_id"), col("tag_valid"),
        coalesce(col("geom_valid"), lit(false)).as("geom_valid"),
        col("has_clean_tags"),
        coalesce(!col("_g_incomplete"), lit(true)).as("refs_complete"))
  }

  /** The self-check: convert `pbfPaths` (no filters) and classify every
    * candidate relation the conversion DROPPED. Returns
    * (relation_id, tag_valid, geom_valid, has_clean_tags, explained) —
    * `explained` is the reference's exemption rule: a drop is principled
    * iff the relation lacks clean tags (never a parity candidate) or
    * fails either validity oracle. Any `explained = false` row is a
    * pipeline bug, not an OSM data defect. */
  def explainDrops(spark: SparkSession, pbfPaths: Seq[String]): DataFrame = {
    // features(...) parks its conversion cuts on the process-wide
    // legacy handle (OsmPipeline.releaseCuts frees them); the returned
    // frame stays lazy and distributed — no driver-side materialization
    // of the drop set
    val features = OsmPipeline.features(spark, pbfPaths)
    val emitted = features
      .filter(col("feature_id").startsWith("relation/"))
      .select(regexp_replace(col("feature_id"), "^relation/", "")
        .cast("long").as("relation_id"))
    classify(spark, pbfPaths)
      .join(emitted, Seq("relation_id"), "left_anti")
      .withColumn("explained",
        !col("has_clean_tags") ||
          !(col("tag_valid") && col("geom_valid")) ||
          !col("refs_complete"))
  }
}
