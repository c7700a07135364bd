package graft.perfbench

import graft.osm.{OsmPipeline, ResultCache}
import graft.pbf.PbfWriter

import java.nio.file.{Files, Path}

/** `osm_full`: one pass is one `ResultCache.convert` of the seeded city,
  * with no filters, into sorted single-file GeoParquet, ignoring the result
  * cache. The output's feature ids must equal the generator's. The first
  * pass is the JVM's first conversion, as when the CLI converts one
  * extract per process. */
final class OsmWorkload(ctx: Ctx, side: Int) extends Workload {
  import ctx.{spark, sc, tracer}

  private val city = CityGen.generate(ctx.seed, side)
  private val expected = city.fullIds
  private val inDir = Files.createDirectories(ctx.work.resolve("osm-in"))
  private val outDir = Files.createDirectories(ctx.work.resolve("osm-out"))
  private val pbf = inDir.resolve("city.osm.pbf").toString
  private val opts = OsmPipeline.Options()
  private var lastOut = ""

  /** Encodes the city with the engine's own PBF writer. */
  def setup(): Unit = PbfWriter.write(city.elements.iterator, pbf)

  private def convert(parent: Int): String =
    tracer.call(sc, "ResultCache.convert", parent) {
      ResultCache.convert(spark, Seq(pbf), opts, workDir = outDir.toString,
        ignoreCache = true)
    }._1

  /** Feature ids in the written GeoParquet against the generator's set. */
  private def check(out: String): Option[String] = {
    val got = spark.read.parquet(out).select("feature_id").collect()
      .map(_.getString(0))
    val gotSet = got.toSet
    val missing = expected -- gotSet
    val extra = gotSet -- expected
    if (got.length != gotSet.size) Some(s"${got.length - gotSet.size} duplicate feature ids")
    else if (missing.isEmpty && extra.isEmpty) None
    else Some(s"feature ids differ: ${missing.size} missing (e.g. " +
      s"${missing.take(3).mkString(",")}), ${extra.size} unexpected (e.g. " +
      s"${extra.take(3).mkString(",")}) of ${expected.size} expected")
  }

  def pass(no: Int, parent: Int): Pass = {
    val name = "osm_full"
    val ps = tracer.open(s"pass $no", parent)
    val os = tracer.open(s"convert $name", ps.id)
    val ((res, cached), secs, ms0, ms1) = ctx.timed {
      ctx.peakCached(scala.util.Try(convert(os.id)))
    }
    tracer.close(os)
    tracer.close(ps)
    val cause = res match {
      case scala.util.Success(out) => lastOut = out; check(out)
      case scala.util.Failure(e) => Some(Harness.describe(e))
    }
    ctx.drain()
    val layer = ctx.engineLayer(ctx.groupsUnder(ps.id), ms0, ms1, cached)
    Pass(secs, Seq(Op(name, "osm", secs, cause.isEmpty, cause.getOrElse(""),
      os.id, ms0, ms1)), None, layer)
  }

  override def probe(parent: Int, passes: Seq[Pass]): Map[String, Double] = {
    val listener = ctx.listener.get
    def reps(name: String, n: Int)(body: => Unit): (Double, Set[String]) = {
      val runs = (0 until n).map { _ =>
        val ((_, span), secs, _, _) = ctx.timed(tracer.call(sc, name, parent)(body))
        (secs, s"span:${span.id}")
      }
      ctx.drain()
      (Stats.median(runs.map(_._1)), Set(runs.last._2))
    }
    val (decodeS, decodeGroup) = reps("OsmPbfSource.noop", 3) {
      spark.read.format("osmpbf").load(pbf).write.format("noop").mode("overwrite").save()
    }
    var cutsMb = 0.0
    val (featuresS, featGroup) = reps("OsmPipeline.featuresWithCuts", 1) {
      val (f, cuts) = OsmPipeline.featuresWithCuts(spark, Seq(pbf), opts)
      try {
        f.write.format("noop").mode("overwrite").save()
        cutsMb = ctx.cachedMb()
      } finally cuts.release()
    }
    val outFiles = if (lastOut.isEmpty) Nil else {
      val s = Files.walk(java.nio.file.Paths.get(lastOut))
      try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    val conf = spark.sessionState.newHadoopConf()
    val rowGroups = outFiles.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf))
      try r.getFooter.getBlocks.size finally r.close()
    }.sum
    val passS = Stats.median(passes.map(_.seconds))
    val passJobs = Stats.median(passes.map(_.layer.getOrElse("spark.jobs", 0.0)))
    val elements = city.elements.size.toDouble
    Map(
      "OsmPbfSource.decode_s" -> decodeS,
      "OsmPbfSource.scan_tasks" -> listener.tasksIn(decodeGroup).size.toDouble,
      "OsmPbfSource.elements_per_s" -> elements / decodeS,
      "OsmPipeline.features_s" -> featuresS,
      "OsmPipeline.pipeline_s" -> (featuresS - decodeS),
      "OsmPipeline.stages" -> listener.stagesIn(featGroup).size.toDouble,
      "OsmPipeline.cuts_mb" -> cutsMb,
      "OsmPipeline.yield" -> expected.size / elements,
      "GeoParquet.write_s" -> (passS - featuresS),
      "GeoParquet.jobs" -> (passJobs - listener.jobsIn(featGroup).size),
      "GeoParquet.row_groups" -> rowGroups.toDouble,
      "GeoParquet.output_mb" -> outFiles.map(Files.size(_)).sum / 1048576.0)
  }
}
