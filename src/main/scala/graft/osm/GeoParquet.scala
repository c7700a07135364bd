package graft.osm

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions.hilbertIndex

/** GeoParquet 1.1.0 sink (S6) — Spark port of the reference's KV-metadata
  * write (/root/reference/quackosm/_geoparquet_metadata.py:7-63,
  * pbf_file_reader.py:4124-4197).
  *
  * Spark's parquet writer has no per-file KV-metadata hook, so the `geo`
  * footer entry is added in a metadata-only post-pass: each written file's
  * row groups are appended byte-for-byte (`ParquetFileWriter.appendFile` —
  * no decode/re-encode) into a replacement file carrying the extra footer
  * entry. Cost is one file copy, no shuffle, parallelizable per file.
  */
object GeoParquet {

  /** PROJJSON for OGC:CRS84 (WGS84 lon-lat), per the GeoParquet spec. */
  private val CrsLonLat: String =
    """{"$schema":"https://proj.org/schemas/v0.5/projjson.schema.json","type":"GeographicCRS","name":"WGS 84 longitude-latitude","datum":{"type":"GeodeticReferenceFrame","name":"World Geodetic System 1984","ellipsoid":{"name":"WGS 84","semi_major_axis":6378137,"inverse_flattening":298.257223563}},"coordinate_system":{"subtype":"ellipsoidal","axis":[{"name":"Geodetic longitude","abbreviation":"Lon","direction":"east","unit":"degree"},{"name":"Geodetic latitude","abbreviation":"Lat","direction":"north","unit":"degree"}]},"id":{"authority":"OGC","code":"CRS84"}}"""

  def geoMetadataJson(
      geometryTypes: Seq[String],
      bbox: (Double, Double, Double, Double),
      encoding: String = "WKB",
      covering: Boolean = false): String = {
    val types = geometryTypes.sorted.map(t => s""""$t"""").mkString("[", ",", "]")
    val cover =
      if (covering)
        ""","covering":{"bbox":{"xmin":["bbox","xmin"],"ymin":["bbox","ymin"],""" +
          """"xmax":["bbox","xmax"],"ymax":["bbox","ymax"]}}"""
      else ""
    s"""{"version":"1.1.0","primary_column":"geometry","columns":{"geometry":""" +
      s"""{"encoding":"$encoding","crs":$CrsLonLat,"geometry_types":$types,""" +
      s""""bbox":[${bbox._1},${bbox._2},${bbox._3},${bbox._4}]$cover}},""" +
      s""""creator":{"library":"graft","version":"0.1.0"}}"""
  }

  /** Write features (… geometry: WKB binary) as GeoParquet: stats pass
    * (A7 extent agg + A10 distinct geometry types), parquet write, footer
    * post-pass. `singleFile=true` reproduces the reference's one-file
    * output (S4); false keeps one file per partition (S3).
    * `sortAlgorithm`: `"str"` (Sort-Tile-Recursive packing — the
    * reference's DEFAULT, pbf_file_reader.py:347-376) or `"hilbert"`.
    * `sortExtent` (reference `sort_extent`, pbf_file_reader.py:4369,
    * populated from the geometry filter's bounds at 4029/4089): clamps
    * the curve FRAME to a caller-provided (xmin, ymin, xmax, ymax)
    * instead of the data's own bbox — the sort order of a region's
    * features then no longer depends on which subset of them is present
    * in this particular write (stable tiling across incremental runs of
    * the same filter region). Out-of-extent centers saturate at the
    * frame boundary. The FOOTER bbox stays the data's real extent (the
    * GeoParquet-spec contract) regardless. */
  def write(features: DataFrame, path: String, singleFile: Boolean = true,
      sortSpatially: Boolean = false, covering: Boolean = false,
      maxRecordsPerFile: Long = 0L, sortAlgorithm: String = "str",
      sortExtent: Option[(Double, Double, Double, Double)] = None): Unit = {
    require(Set("str", "hilbert")(sortAlgorithm),
      s"sortAlgorithm must be str|hilbert, got $sortAlgorithm")
    sortExtent.foreach { case (x0, y0, x1, y1) =>
      require(x0 <= x1 && y0 <= y1,
        s"sortExtent must be (xmin, ymin, xmax, ymax), got ($x0,$y0,$x1,$y1)")
    }
    val spark = features.sparkSession
    // The upstream plan (a full conversion DAG) is consumed two or three
    // times below (stats pass, optional sort, write) — materialize it
    // ONCE, WITH the per-row extent already computed: the WKB parse
    // (JTS) happens a single time and stats/sort/covering all reuse it.
    val extentUdf = udf(GeomUdfs.extent)
    val mat = features.withColumn("_ext", extentUdf(col("geometry")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try writeMaterialized(spark, mat, path, singleFile, sortSpatially, covering,
      maxRecordsPerFile, sortAlgorithm, sortExtent)
    finally mat.unpersist(blocking = false)
  }

  /** `typed` carries a `_ext` (xmin, ymin, xmax, ymax) column. */
  private def writeMaterialized(spark: org.apache.spark.sql.SparkSession,
      typed: DataFrame, path: String, singleFile: Boolean,
      sortSpatially: Boolean, covering: Boolean, maxRecordsPerFile: Long,
      sortAlgorithm: String,
      sortExtent: Option[(Double, Double, Double, Double)]): Unit = {
    // one combined stats pass: bbox (4 min/max) + distinct geometry types
    // + row count (STR needs it for its slice count)
    val stats = typed.agg(
      min(col("_ext._1")).as("xmin"), min(col("_ext._2")).as("ymin"),
      max(col("_ext._3")).as("xmax"), max(col("_ext._4")).as("ymax"),
      collect_set(udf(GeomUdfs.geomType).apply(col("geometry"))).as("types"),
      count(lit(1)).as("n"))
      .head()
    // Empty input: min/max come back null — still write the file (with a
    // degenerate bbox and no geometry types), matching the reference's
    // empty-result GeoParquet output.
    val bbox =
      if (stats.isNullAt(0)) (0.0, 0.0, 0.0, 0.0)
      else (stats.getDouble(0), stats.getDouble(1),
        stats.getDouble(2), stats.getDouble(3))
    val types = stats.getSeq[String](4)
    val n = stats.getLong(5)

    val sorted =
      if (!sortSpatially) typed
      else if (sortAlgorithm == "hilbert")
        spatialSortWithExt(typed, sortExtent.getOrElse(bbox), singleFile)
      else strSortWithExt(typed, n, StrLeafRows, singleFile, sortExtent)
    // GeoParquet 1.1 per-row bbox covering column: with the spatial sort,
    // parquet row-group min/max stats on these four doubles prune
    // row groups on bbox reads ([[readCovered]]) — the at-scale spatial
    // access path (row groups of Hilbert-adjacent features have tight
    // bboxes).
    val covered =
      if (covering) sorted
        .withColumn("bbox", struct(
          col("_ext._1").as("xmin"), col("_ext._2").as("ymin"),
          col("_ext._3").as("xmax"), col("_ext._4").as("ymax")))
      else sorted
    val plain = covered.drop("_ext")
    val out = if (singleFile) plain.coalesce(1) else plain
    val tmp = path + "_tmp_plain"
    // final-file contract matches the reference's defaults
    // (quackosm/_constants.py:4-10, pbf_file_reader.py:171-174): zstd,
    // parquet format v2, ~100k-row row groups (via byte-sized blocks),
    // spatially sorted when requested.
    // maxRecordsPerFile bounds output-file size on the multi-file path —
    // the reference's rows-per-group / file-size ladder
    // (pbf_file_reader.py:2686-2699,3610-3618) collapsed to the one knob
    // Spark's writer exposes per-job.
    val writer0 = out.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.writer.version", "v2")
    val writer =
      if (maxRecordsPerFile > 0 && !singleFile)
        writer0.option("maxRecordsPerFile", maxRecordsPerFile)
      else writer0
    writer.parquet(tmp)

    val meta = geoMetadataJson(types, bbox, covering = covering)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    fs.delete(new Path(path), true)
    fs.mkdirs(new Path(path))
    val parts = fs.listStatus(new Path(tmp))
      .filter(f => f.getPath.getName.endsWith(".parquet"))
    parts.zipWithIndex.foreach { case (f, i) =>
      val target = new Path(path,
        if (singleFile) "data.parquet" else f.getPath.getName)
      rewriteWithMetadata(conf, f.getPath, target, Map("geo" -> meta))
    }
    fs.delete(new Path(tmp), true)
  }

  /** Metadata-only rewrite: copy row groups untouched, extend the footer. */
  def rewriteWithMetadata(conf: Configuration, src: Path, dst: Path,
      extra: Map[String, String]): Unit = {
    val in = HadoopInputFile.fromPath(src, conf)
    val footer = ParquetFileReader.open(in).getFooter
    val schema = footer.getFileMetaData.getSchema
    val existing = footer.getFileMetaData.getKeyValueMetaData
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(dst, conf), schema,
      ParquetFileWriter.Mode.OVERWRITE,
      128L * 1024 * 1024 /* row-group size */, 8388608 /* max padding */)
    writer.start()
    writer.appendFile(in)
    val kv = new java.util.HashMap[String, String](existing)
    extra.foreach { case (k, v) => kv.put(k, v) }
    writer.end(kv)
  }

  /** Bbox read over a covering-enabled GeoParquet: the window predicate
    * lands on the four plain double columns of the `bbox` struct, so it is
    * pushed into the parquet scan (PushedFilters) and prunes row groups /
    * files via their min/max stats before any geometry is decoded. Exact
    * geometry tests can follow on the survivors. */
  def readCovered(spark: org.apache.spark.sql.SparkSession, path: String,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double): DataFrame =
    spark.read.parquet(path)
      .filter(col("bbox.xmin") <= xmax && col("bbox.xmax") >= xmin &&
        col("bbox.ymin") <= ymax && col("bbox.ymax") >= ymin)

  /** S5: hive-partitioned sink (pbf_file_reader.py:3138-3156) — partition
    * the output by a computed column (the reference partitions way groups;
    * any bucketing column works). */
  def writePartitioned(features: DataFrame, path: String,
      partitionCol: String): Unit =
    features.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).parquet(path)

  /** S7: URL source — download a PBF to a local path before reading
    * (pbf_file_reader.py:1160-1171; driver-side, plain java.net). */
  def downloadPbf(url: String, dest: String): String = {
    val in = new java.net.URI(url).toURL.openStream()
    try java.nio.file.Files.copy(in, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    dest
  }

  /** S10: WKT text sink (pbf_file_reader.py:4175-4180). */
  def writeWkt(features: DataFrame, path: String): Unit =
    features
      .withColumn("geometry", udf(GeomUdfs.asText).apply(col("geometry")))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  // ------------------------------------------------------ spatial sort --

  /** Sort features along the Hilbert curve of envelope centers:
    * range-partition on the index (parallel, sampled ranges — no single
    * partition bottleneck), then sort within partitions. The index is a
    * native codegen'd Catalyst expression ([[HilbertIndexExpr]]), not a
    * Scala UDF — no boxing on the sort hot path. */
  def spatialSort(features: DataFrame, bbox: (Double, Double, Double, Double)): DataFrame = {
    val extentUdf = udf(GeomUdfs.extent)
    spatialSortWithExt(
      features.withColumn("_ext", extentUdf(col("geometry"))), bbox,
      singleOutput = false)
      .drop("_ext")
  }

  /** Same, for inputs that already carry a `_ext` extent column (avoids a
    * second WKB parse); `_ext` is preserved on the output.
    *
    * `singleOutput`: a one-file sink collapses to one task regardless, so
    * range partitioning would only add a sampling job + a shuffle ahead of
    * the single-task sort — sort directly inside the coalesced partition
    * instead. Multi-file output keeps `repartitionByRange` (parallel,
    * sampled ranges — no single-partition bottleneck at scale). */
  private def spatialSortWithExt(typed: DataFrame,
      bbox: (Double, Double, Double, Double),
      singleOutput: Boolean): DataFrame = {
    val indexed = typed.withColumn("_hilbert", hilbertIndex(
      (col("_ext._1") + col("_ext._3")) / 2,
      (col("_ext._2") + col("_ext._4")) / 2,
      lit(bbox._1), lit(bbox._2), lit(bbox._3), lit(bbox._4)))
    val parted =
      if (singleOutput) indexed.coalesce(1)
      else indexed.repartitionByRange(col("_hilbert"))
    parted.sortWithinPartitions(col("_hilbert") +: tieBreak(typed): _*)
      .drop("_hilbert")
  }

  /** `feature_id`, when present, orders rows with equal sort keys, so the
    * written sequence depends on the rows only, not on the order in which
    * the upstream plan delivers them. */
  private def tieBreak(df: DataFrame): Seq[Column] =
    if (df.columns.contains("feature_id")) Seq(col("feature_id")) else Nil

  /** Rows per STR leaf tile — the ~100k-row row-group contract
    * (pbf_file_reader.py:171-174), so one leaf ≈ one row group and the
    * covering bbox stats prune at row-group granularity. */
  val StrLeafRows: Int = 100000

  /** Sort-Tile-Recursive packing order — the reference's DEFAULT spatial
    * sort (`sort_algorithm="str"`, pbf_file_reader.py:347-376,4021-4043;
    * algorithm: Leutenegger et al., "STR: A Simple and Efficient Algorithm
    * for R-Tree Packing"): order envelopes by center-x, cut into
    * S = ceil(sqrt(P)) equal-count vertical slices (P = leaf count), sort
    * each slice by center-y. Rows then stream out leaf by leaf.
    *
    * Distributed shape: the equal-count x-slicing IS
    * `repartitionByRange(S, cx)` (sampled range boundaries, fully
    * parallel), and the in-slice y-sort IS `sortWithinPartitions(cy)` —
    * one narrow shuffle, no global sort, no single-partition stage. The
    * single-output path computes the same slice boundaries explicitly
    * (approxQuantile — the sampling primitive range partitioning uses) and
    * sorts by (slice, cy) inside the one coalesced partition. */
  def strSort(features: DataFrame, leafRows: Int = StrLeafRows,
      singleOutput: Boolean = false): DataFrame = {
    val extentUdf = udf(GeomUdfs.extent)
    val typed = features.withColumn("_ext", extentUdf(col("geometry")))
    strSortWithExt(typed, typed.count(), leafRows, singleOutput, None)
      .drop("_ext")
  }

  /** `sortExtent`: saturate feature centers into the caller's frame
    * before slicing — STR's equal-count slicing is data-driven either
    * way, so the extent's effect is pinning every OUT-of-extent feature
    * to the frame boundary (deterministic placement independent of how
    * far outside it sits), matching the Hilbert path's clamp. */
  private def strSortWithExt(typed: DataFrame, n: Long, leafRows: Int,
      singleOutput: Boolean,
      sortExtent: Option[(Double, Double, Double, Double)]): DataFrame = {
    val canonical = math.max(1,
      math.ceil(math.sqrt(n.toDouble / leafRows)).toInt)
    // Multi-file output: never let the canonical slice count UNDERshoot the
    // cluster's parallelism — finer x-slicing is still STR (smaller
    // leaves), but a single range partition would funnel the whole write
    // through one task. Bounded below by ~10k rows per slice so tiny
    // inputs don't shatter into empty files.
    val slices =
      if (singleOutput) canonical
      else {
        val parallel = typed.sparkSession.sparkContext.defaultParallelism
        math.max(1L, math.min(
          math.max(canonical.toLong, parallel.toLong),
          n / 10000L)).toInt
      }
    def clampX(c: org.apache.spark.sql.Column) = sortExtent
      .map { case (x0, _, x1, _) => least(greatest(c, lit(x0)), lit(x1)) }
      .getOrElse(c)
    def clampY(c: org.apache.spark.sql.Column) = sortExtent
      .map { case (_, y0, _, y1) => least(greatest(c, lit(y0)), lit(y1)) }
      .getOrElse(c)
    val cxed = typed
      .withColumn("_cx", clampX((col("_ext._1") + col("_ext._3")) / 2))
      .withColumn("_cy", clampY((col("_ext._2") + col("_ext._4")) / 2))
    val byCy = col("_cy") +: tieBreak(typed)
    val parted =
      if (slices == 1)
        (if (singleOutput) cxed.coalesce(1) else cxed.repartitionByRange(1, col("_cx")))
          .sortWithinPartitions(byCy: _*)
      else if (!singleOutput)
        cxed.repartitionByRange(slices, col("_cx"))
          .sortWithinPartitions(byCy: _*)
      else {
        val cuts = cxed.stat.approxQuantile("_cx",
          (1 until slices).map(_.toDouble / slices).toArray, 0.01)
        val slice = cuts.zipWithIndex.foldLeft(lit(0)) {
          case (acc, (cut, i)) => when(col("_cx") > cut, i + 1).otherwise(acc)
        }
        cxed.withColumn("_slice", slice)
          .coalesce(1)
          .sortWithinPartitions(col("_slice") +: byCy: _*)
          .drop("_slice")
      }
    parted.drop("_cx", "_cy")
  }
}
