package graft.osm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The convert-MULTIPLE-PBFs path end-to-end at ~10× monaco
  * (reference: `pbf_file_reader.py:446-534,1046-1146` — per-file
  * convert, cross-file element dedup, merge): 10 replicated extracts
  * with OVERLAPPING contents (each replica appears in exactly two
  * files), converted in one multi-file DAG whose J3 `(kind, id)` dedup
  * must collapse every duplicate before assembly. Held to three
  * oracles: the untouched replica-0 features byte-equal the
  * SINGLE-file monaco conversion's WKB, the merged result is
  * byte-identical under the two opposed physical configs
  * (OsmInvarianceSpec's axes), and the relation-validity oracle
  * explains every drop over the overlapping file set. */
class OsmMultiExtractSpec extends AnyFunSuite {
  private val Monaco = "/root/reference/tests/test_files/monaco.osm.pbf"
  private val NFiles = 10

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def convert(paths: Seq[String]): Map[String, Array[Byte]] = {
    val (features, cuts) = OsmPipeline.featuresWithCuts(spark, paths,
      OsmPipeline.Options())
    try features.select("feature_id", "geometry").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    finally cuts.release()
  }

  test("10 overlapping extracts: dedup is exact, replica-0 features " +
      "byte-equal the single-file conversion, WKB invariant under " +
      "opposed configs, every relation drop explained") {
    // [[graft.pbf.PbfWriter.writeOverlappingReplicas]] — the shared
    // builder (the timed profile in PLANS.md "Multi-extract conversion
    // throughput" used the same one, so spec and profile measure the
    // identical workload): replica 0 IS
    // the original monaco; every replica sits in exactly two files, so
    // the merged scan sees each element twice and the J3 dedup must
    // drop exactly half.
    val dir = java.nio.file.Files.createTempDirectory("multiext").toString
    val (paths, _) = graft.pbf.PbfWriter.writeOverlappingReplicas(
      spark, Monaco, NFiles, dir)
    try {
    val single = convert(Seq(Monaco))
    // config A: the invariance sweep's adversarial partitioning
    val multiA = withConfs(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.enabled" -> "false")(convert(paths))
    // exact dedup: every replica contributes one copy of the single-file
    // feature set, nothing doubled, nothing lost
    assert(multiA.size == single.size * NFiles,
      s"expected ${single.size * NFiles} features, got ${multiA.size}")
    // replica 0 passed through the overlapping multi-file path
    // UNCHANGED: its WKB byte-equals the single-file conversion's
    val diff0 = single.keys.filter(k =>
      !multiA.get(k).exists(java.util.Arrays.equals(single(k), _)))
    assert(diff0.isEmpty,
      s"${diff0.size} replica-0 features diverged from the single-file " +
        s"conversion, e.g. ${diff0.take(5).toList}")
    // and every replica's feature-id set is the offset image of the
    // original's (spot the id arithmetic, not just the count)
    val ids1 = multiA.keySet.filter { k =>
      val id = k.split("/")(1).toLong
      id >= 100000000000L && id < 200000000000L
    }
    assert(ids1.size == single.size, s"replica-1 ids: ${ids1.size}")
    // config B: opposed physical shape — byte-identical WKB per id
    val multiB = withConfs(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.enabled" -> "true")(convert(paths))
    assert(multiA.size == multiB.size)
    val diffAB = multiA.keys.filter(k =>
      !multiB.get(k).exists(java.util.Arrays.equals(multiA(k), _)))
    assert(diffAB.isEmpty,
      s"${diffAB.size} features' WKB diverged across configs, " +
        s"e.g. ${diffAB.take(5).toList}")
    // the validity oracle runs the same J3 dedup before classifying:
    // zero unexplained relation drops over the overlapping set
    val drops = RelationValidity.explainDrops(spark, paths)
    val unexplained = drops.filter(!col("explained")).collect()
    assert(unexplained.isEmpty,
      unexplained.take(5).mkString(","))
    } finally {
      // a FAILED assertion must not leak the ~10× extract set on disk
      // or explainDrops' cuts in the shared session's CacheManager
      OsmPipeline.releaseCuts()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
