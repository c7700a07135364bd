package graft.osm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoParquetSpec extends AnyFunSuite {
  private val Monaco = "/root/reference/tests/test_files/monaco.osm.pbf"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("GeoParquet write produces readable file with geo footer metadata") {
    val out = java.nio.file.Files.createTempDirectory("gpq").toString + "/monaco"
    val features = OsmPipeline.features(spark, Seq(Monaco),
      OsmPipeline.Options(tagsFilter =
        Some(Map("building" -> graft.osm.TagFilters.AnyValue))))
    GeoParquet.write(features, out, singleFile = true, sortSpatially = true)

    // file is plain-parquet readable with identical rows
    val back = spark.read.parquet(out)
    assert(back.count() == 1283)
    assert(back.columns.toSeq == Seq("feature_id", "tags", "geometry"))

    // geo footer present and well-formed
    val conf = spark.sessionState.newHadoopConf()
    val file = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(out + "/data.parquet"), conf)
    val kv = org.apache.parquet.hadoop.ParquetFileReader.open(file)
      .getFooter.getFileMetaData.getKeyValueMetaData
    assert(kv.containsKey("geo"))
    val geo = kv.get("geo")
    assert(geo.contains(""""version":"1.1.0""""))
    assert(geo.contains(""""primary_column":"geometry""""))
    assert(geo.contains(""""encoding":"WKB""""))
    assert(geo.contains("CRS84"))
    assert(geo.contains(""""Polygon""""))
    // monaco bbox sanity: lon ~7.4, lat ~43.7
    assert(geo.contains(""""bbox":[7."""))
  }

  private def meanStep(ps: Array[(Double, Double)]): Double =
    ps.sliding(2).map { case Array(a, b) =>
      math.hypot(a._1 - b._1, a._2 - b._2)
    }.sum / (ps.length - 1)

  private def centroids(df: org.apache.spark.sql.DataFrame): Array[(Double, Double)] = {
    val ext = udf(GeomUdfs.extent)
    df.withColumn("e", ext(col("geometry")))
      .select(((col("e._1") + col("e._3")) / 2).as("x"),
        ((col("e._2") + col("e._4")) / 2).as("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
  }

  test("spatial sort clusters nearby features (both str and hilbert modes)") {
    val f = OsmPipeline.features(spark, Seq(Monaco),
      OsmPipeline.Options(tagsFilter =
        Some(Map("building" -> graft.osm.TagFilters.AnyValue))))
      .persist()
    try for (mode <- Seq("str", "hilbert")) {
      val out = java.nio.file.Files.createTempDirectory("gpq").toString + s"/$mode"
      GeoParquet.write(f, out, singleFile = true, sortSpatially = true,
        sortAlgorithm = mode)
      // successive rows should be spatially close on average: compare mean
      // consecutive-centroid distance of sorted vs random order
      val pts = centroids(spark.read.parquet(out))
      val sortedStep = meanStep(pts)
      val shuffledStep = meanStep(scala.util.Random.shuffle(pts.toList).toArray)
      assert(sortedStep < shuffledStep / 2,
        s"$mode: sorted=$sortedStep shuffled=$shuffledStep")
    } finally f.unpersist(blocking = false)
  }

  test("STR multi-slice packing: x-slices of equal count, y-sorted within") {
    val f = OsmPipeline.features(spark, Seq(Monaco),
      OsmPipeline.Options(tagsFilter =
        Some(Map("building" -> graft.osm.TagFilters.AnyValue))))
    // tiny leaves force several slices (1283 rows / 64 ≈ 21 leaves → 5 slices)
    val pts = centroids(GeoParquet.strSort(f, leafRows = 64, singleOutput = true)
      .coalesce(1))
    assert(meanStep(pts) <
      meanStep(scala.util.Random.shuffle(pts.toList).toArray) / 2)
    // within a run of consecutive rows whose x stays inside one slice,
    // y must be non-decreasing: verify on the first 100 rows' slice runs
    val ys = pts.map(_._2)
    val increasingRuns = ys.sliding(2).count { case Array(a, b) => b >= a }
    // y-sorted slices make the sequence mostly monotone (far from the ~50%
    // a random order gives)
    assert(increasingRuns.toDouble / (ys.length - 1) > 0.8,
      s"monotone fraction ${increasingRuns.toDouble / (ys.length - 1)}")
  }

  test("sortExtent clamps the curve frame: subset order matches full-set order") {
    // reference sort_extent semantics (pbf_file_reader.py:4029,4089,4369):
    // the geometry filter's bounds fix the curve frame, so two writes over
    // DIFFERENT subsets of a region order shared features identically —
    // without the extent, each write's own data bbox warps the curve.
    import spark.implicits._
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val w = new org.locationtech.jts.io.WKBWriter()
    val rnd = new scala.util.Random(5)
    val feats = (0 until 240).map { i =>
      val x = 7.0 + rnd.nextDouble() * 0.8
      val y = 43.0 + rnd.nextDouble() * 0.8
      (i.toLong, w.write(gf.createPoint(
        new org.locationtech.jts.geom.Coordinate(x, y))))
    }
    val frame = Some((7.0, 43.0, 8.0, 44.0))
    def order(rows: Seq[(Long, Array[Byte])],
        extent: Option[(Double, Double, Double, Double)]): Seq[Long] = {
      val out = java.nio.file.Files.createTempDirectory("sortext").toString + "/f"
      GeoParquet.write(rows.toDF("feature_id", "geometry"), out,
        singleFile = true, sortSpatially = true, sortAlgorithm = "hilbert",
        sortExtent = extent)
      spark.read.parquet(out).select("feature_id")
        .collect().map(_.getLong(0)).toSeq
    }
    val full = order(feats, frame)
    // a skewed subset: the 80 lowest-x features (its own bbox is ~1/10th
    // of the frame, so un-clamped curve indexes would differ wildly)
    val subset = feats.sortBy { case (_, wkb) =>
      new org.locationtech.jts.io.WKBReader(gf).read(wkb).getCoordinate.x
    }.take(80)
    val sub = order(subset, frame)
    val subIds = subset.map(_._1).toSet
    assert(sub == full.filter(subIds.contains),
      "subset must inherit the full-set relative order under a fixed frame")
    // STR path accepts the extent too: far-outlier centers saturate at the
    // frame boundary instead of stretching the slicing
    val withOutlier = feats :+ (999L, w.write(gf.createPoint(
      new org.locationtech.jts.geom.Coordinate(170.0, 80.0))))
    val out2 = java.nio.file.Files.createTempDirectory("sortext").toString + "/s"
    GeoParquet.write(withOutlier.toDF("feature_id", "geometry"), out2,
      singleFile = true, sortSpatially = true, sortAlgorithm = "str",
      sortExtent = frame)
    val back = spark.read.parquet(out2).select("feature_id")
      .collect().map(_.getLong(0))
    assert(back.length == 241 && back.contains(999L))
    // bad extent fails loudly
    intercept[IllegalArgumentException] {
      GeoParquet.write(feats.toDF("feature_id", "geometry"),
        out2 + "x", sortSpatially = true, sortExtent = Some((8.0, 43.0, 7.0, 44.0)))
    }
  }

  test("empty feature set still writes a GeoParquet file with geo footer") {
    val out = java.nio.file.Files.createTempDirectory("gpq").toString + "/empty"
    // a tag filter matching nothing → zero features, degenerate bbox;
    // sortSpatially exercises the STR path's n=0 branch
    val features = OsmPipeline.features(spark, Seq(Monaco),
      OsmPipeline.Options(tagsFilter =
        Some(Map("no_such_tag_key_xyz" -> graft.osm.TagFilters.AnyValue))))
    GeoParquet.write(features, out, singleFile = true, sortSpatially = true)
    val back = spark.read.parquet(out)
    assert(back.count() == 0)
    val conf = spark.sessionState.newHadoopConf()
    val file = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(out + "/data.parquet"), conf)
    val kv = org.apache.parquet.hadoop.ParquetFileReader.open(file)
      .getFooter.getFileMetaData.getKeyValueMetaData
    assert(kv.containsKey("geo"))
    assert(kv.get("geo").contains(""""bbox":[0.0,0.0,0.0,0.0]"""))
  }

  test("S7 URL source downloads and converts (file:// URL, zero-egress)") {
    val dest = java.nio.file.Files.createTempDirectory("dl").toString + "/monaco.osm.pbf"
    val got = GeoParquet.downloadPbf(s"file://$Monaco", dest)
    assert(got == dest)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(dest)) ==
      java.nio.file.Files.size(java.nio.file.Paths.get(Monaco)))
    // the downloaded copy converts like the original
    assert(spark.read.format("osmpbf").load(dest).count() ==
      spark.read.format("osmpbf").load(Monaco).count())
  }

  test("covering bbox column enables pushed-down spatial reads") {
    val out = java.nio.file.Files.createTempDirectory("gpq").toString + "/cov"
    val f = OsmPipeline.features(spark, Seq(Monaco),
      OsmPipeline.Options(tagsFilter =
        Some(Map("building" -> graft.osm.TagFilters.AnyValue))))
    GeoParquet.write(f, out, singleFile = true, sortSpatially = true,
      covering = true)

    // covering metadata present
    val conf = spark.sessionState.newHadoopConf()
    val file = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(out + "/data.parquet"), conf)
    val geo = org.apache.parquet.hadoop.ParquetFileReader.open(file)
      .getFooter.getFileMetaData.getKeyValueMetaData.get("geo")
    assert(geo.contains(""""covering":{"bbox""""))

    // a sub-window read: pushed filters hit the bbox struct leaves
    val q = GeoParquet.readCovered(spark, out, 7.42, 43.73, 7.43, 43.74)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("PushedFilters") && plan.contains("bbox.xmin"),
      s"bbox predicate must reach the scan:\n$plan")

    // results equal the brute-force bbox intersection over all rows
    val ext = udf(GeomUdfs.extent)
    val all = spark.read.parquet(out)
      .withColumn("e", ext(col("geometry")))
      .filter(col("e._1") <= 7.43 && col("e._3") >= 7.42 &&
        col("e._2") <= 43.74 && col("e._4") >= 43.73)
    assert(q.count() == all.count() && q.count() > 0)
  }

  test("maxRecordsPerFile splits multi-file output at the row bound") {
    val out = java.nio.file.Files.createTempDirectory("gpq").toString + "/split"
    val f = OsmPipeline.features(spark, Seq(Monaco),
      OsmPipeline.Options(tagsFilter =
        Some(Map("building" -> graft.osm.TagFilters.AnyValue))))
    GeoParquet.write(f, out, singleFile = false, maxRecordsPerFile = 400L)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 4) // 1283 rows / 400-row bound
    val back = spark.read.parquet(out)
    assert(back.count() == 1283)
    // every part carries the geo footer
    val conf = spark.sessionState.newHadoopConf()
    files.foreach { p =>
      val kv = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.getPath), conf))
        .getFooter.getFileMetaData.getKeyValueMetaData
      assert(kv.containsKey("geo"))
    }
  }

  test("WKT sink writes readable text geometries") {
    val out = java.nio.file.Files.createTempDirectory("gpq").toString + "/wkt"
    val f = OsmPipeline.features(spark, Seq(Monaco),
      OsmPipeline.Options(osmIds = Seq("node/10005045289")))
    GeoParquet.writeWkt(f, out)
    val back = spark.read.parquet(out)
    assert(back.head().getString(2).startsWith("POINT"))
  }

  test("equal sort keys are written in feature_id order, whatever the " +
      "upstream partitioning") {
    val s = spark
    import s.implicits._
    // 60 points on 4 positions: every sort key is shared by 15 rows
    val rows = new scala.util.Random(7).shuffle((0 until 60).map { i =>
      (f"node/$i%02d", Map("k" -> "v"), GeomUdfs.pointWkb(i % 4, i % 4))
    })
    val df = rows.toDF("feature_id", "tags", "geometry")
    for (algorithm <- Seq("str", "hilbert")) {
      val written = Seq(1, 7).map { parts =>
        val out = java.nio.file.Files.createTempDirectory("gpq").toString +
          s"/order$parts"
        GeoParquet.write(df.repartition(parts), out, sortSpatially = true,
          sortAlgorithm = algorithm)
        spark.read.parquet(out).select("feature_id").collect()
          .map(_.getString(0)).toSeq
      }
      assert(written(0) == written(1), algorithm)
      assert(written(0).grouped(15).forall(g => g == g.sorted), algorithm)
    }
  }
}

