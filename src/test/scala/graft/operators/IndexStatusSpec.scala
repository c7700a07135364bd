package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[RetrievalOps.indexStatus]]: the one-row ops probe must track the
  * layout through the full lifecycle — fresh build, committed append,
  * half-written append, compaction flip, a held writer lease, and the
  * admit store's different commit marker. Each case also pins the one
  * commit rule ([[IndexLayout.committedAppends]]) on the reader side:
  * a generation without a marker is pending and not served; once its
  * marker lands it is served and counted committed. */
class IndexStatusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def row(path: String) =
    RetrievalOps.indexStatus(spark, path).collect().head

  test("status tracks build, append, pending, compaction and lease") {
    val path = java.nio.file.Files.createTempDirectory("st").toString + "/idx"
    val base = Seq((1L, "apple banana"), (2L, "cherry date"))
      .toDF("doc_id", "text")
    RetrievalOps.indexCorpus(base, "doc_id", "text", path)
    val s0 = row(path)
    assert(s0.getAs[String]("active_root") == path &&
      s0.getAs[Long]("current_gen") == 0L &&
      s0.getAs[Long]("n_generations") == 0L &&
      s0.getAs[Long]("folded_max") == -1L &&
      s0.getAs[Long]("committed_appends") == 0L &&
      s0.getAs[Long]("pending_appends") == 0L &&
      s0.getAs[String]("stream_id") == null &&
      s0.getAs[String]("writer_holder") == null)

    RetrievalOps.appendToPostings(
      Seq((10L, "apple fig")).toDF("doc_id", "text"),
      "doc_id", "text", path, batchId = Some(1L))
    assert(row(path).getAs[Long]("committed_appends") == 1L)

    // the same generation torn before any marker (postings written,
    // stats/ and _GRAFT_COMMIT not): pending, and no probe serves it
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def served = RetrievalOps.bm25TopKIndexed(spark, path, Seq("apple"))
      .collect().map(_.getLong(0)).toSet
    val gen = s"$path/appends/batch=1"
    val aside = path.stripSuffix("/idx") + "/stats-aside"
    assert(fs.exists(new Path(gen, IndexLayout.CommitMarker)))
    assert(fs.delete(new Path(gen, IndexLayout.CommitMarker), false) &&
      fs.rename(new Path(s"$gen/stats"), new Path(aside)))
    val torn = row(path)
    assert(torn.getAs[Long]("committed_appends") == 0L &&
      torn.getAs[Long]("pending_appends") == 1L)
    assert(served == Set(1L))
    // stats/ lands — the layout the writers used before _GRAFT_COMMIT
    // existed: served and committed without the explicit marker
    assert(fs.rename(new Path(aside), new Path(s"$gen/stats")))
    val legacy = row(path)
    assert(legacy.getAs[Long]("committed_appends") == 1L &&
      legacy.getAs[Long]("pending_appends") == 0L)
    assert(served == Set(1L, 10L))

    // a half-written append: directory present, no commit marker
    fs.mkdirs(new Path(s"$path/appends/batch=2"))
    val s1 = row(path)
    assert(s1.getAs[Long]("committed_appends") == 1L &&
      s1.getAs[Long]("pending_appends") == 1L)
    fs.delete(new Path(s"$path/appends/batch=2"), true)

    RetrievalOps.compactInPlace(spark, path)
    val s2 = row(path)
    assert(s2.getAs[Long]("current_gen") == 1L &&
      s2.getAs[Long]("n_generations") == 1L &&
      s2.getAs[Long]("folded_max") == 1L &&
      s2.getAs[Long]("committed_appends") == 0L &&
      s2.getAs[String]("active_root") == s"$path/generations/g1")

    IndexLayout.withWriterLease(spark, path, "status-spec") {
      val s3 = row(path)
      assert(s3.getAs[String]("writer_holder") != null &&
        s3.getAs[String]("writer_holder").contains("status-spec") &&
        s3.getAs[Boolean]("writer_expired") == false &&
        s3.getAs[Long]("writer_age_ms") >= 0L)
    }
    assert(row(path).getAs[String]("writer_holder") == null)
  }

  test("status reads the admit store's _GRAFT_COMMIT marker and lineage") {
    val root = java.nio.file.Files.createTempDirectory("stadm").toString
    val seed = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val feed = s"$root/feed"
    Seq((100L, "a completely different document about spark plans"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(feed)
    val arrivals = spark.readStream
      .schema("doc_id BIGINT, text STRING").parquet(feed)
    val q = graft.streaming.DocStreams.admitArrivals(arrivals, seed,
      s"$root/adm", s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()
    val s = row(s"$root/adm")
    assert(s.getAs[Long]("committed_appends") == 1L &&
      s.getAs[Long]("pending_appends") == 0L &&
      s.getAs[String]("stream_id") != null)

    // the batch torn before its markers: pending, and not served
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val gen = s"$root/adm/appends/batch=0"
    def served = graft.streaming.DocStreams
      .admittedDocs(spark, s"$root/adm", seed.schema).count()
    assert(served == 1L)
    Seq(IndexLayout.CommitMarker, "_SUCCESS")
      .foreach(m => fs.delete(new Path(gen, m), false): Unit)
    val torn = row(s"$root/adm")
    assert(torn.getAs[Long]("committed_appends") == 0L &&
      torn.getAs[Long]("pending_appends") == 1L)
    assert(served == 0L)
    // its marker lands: served and committed again
    fs.create(new Path(gen, IndexLayout.CommitMarker), true).close()
    val back = row(s"$root/adm")
    assert(back.getAs[Long]("committed_appends") == 1L &&
      back.getAs[Long]("pending_appends") == 0L)
    assert(served == 1L)
  }
}
