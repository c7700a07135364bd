package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end curation over a crafted corpus with one planted document
  * per rejection class: every stage must claim exactly its plants, the
  * clean docs must survive scrubbed, and the one-pass report must agree
  * with the annotation. */
class TextPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def mkCorpus = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def words(n: Int): String =
      Seq.fill(n)(
        Seq.fill(3 + rng.nextInt(5))(('a' + rng.nextInt(26)).toChar).mkString)
        .mkString(" ")
    val clean1 = words(60) + " mail me at a@b.co today"
    val clean2 = words(60)
    val benchText = "which festival is held in august in the old town " +
      "every single year according to the municipal charter " + words(20)
    Seq(
      (1L, clean1),
      (2L, clean2),
      (3L, "tiny doc"), // too_short
      (4L, ("spam " * 60) + words(20)), // repetitive top-word share
      (5L, clean2), // exact dup of 2 (higher id loses)
      (6L, clean1 + " two extra words"), // near dup of 1
      (7L, words(30) + " " + benchText) // contaminated vs benchmark
    ).toDF("id", "body") -> benchText
  }

  test("each stage claims exactly its planted documents") {
    import spark.implicits._
    val (docs, benchText) = mkCorpus
    val bench = Seq(benchText).toDF("question")
    val annotated = TextPipeline.curate(docs, "id", "body",
      benchmark = Some((bench, "question")))
    val reasons = annotated.select("id", "reject_reason")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(reasons(1L).isEmpty && reasons(2L).isEmpty,
      s"clean docs rejected: $reasons")
    assert(reasons(3L).contains("too_short"))
    assert(reasons(4L).contains("repetitive"))
    assert(reasons(5L).contains("exact_dup"))
    assert(reasons(6L).contains("near_dup"))
    assert(reasons(7L).contains("contaminated"))
  }

  test("curated output is scrubbed and the one-pass report adds up") {
    import spark.implicits._
    val (docs, benchText) = mkCorpus
    val bench = Seq(benchText).toDF("question")
    val annotated = TextPipeline.curate(docs, "id", "body",
      benchmark = Some((bench, "question")))
    val kept = TextPipeline.curated(annotated)
    assert(kept.columns.toSeq ==
      Seq("id", "body", "n_emails", "n_ips"))
    val keptRows = kept.orderBy("id").collect()
    assert(keptRows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // doc 1's email must be redacted in the surviving text
    assert(keptRows(0).getString(1).contains("<EMAIL>"))
    assert(keptRows(0).getLong(2) == 1)
    val rep = TextPipeline.report(annotated)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map("kept" -> 2L, "too_short" -> 1L, "repetitive" -> 1L,
      "exact_dup" -> 1L, "near_dup" -> 1L, "contaminated" -> 1L), s"$rep")
  }

  test("a member of a cluster whose representative failed quality survives") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    def words(n: Int): String =
      Seq.fill(n)(
        Seq.fill(3 + rng.nextInt(5))(('a' + rng.nextInt(26)).toChar).mkString)
        .mkString(" ")
    val base = words(40)
    // doc 1 (the would-be cluster minimum) is rejected as repetitive;
    // doc 2 shares its content — sequential semantics must KEEP doc 2,
    // not drop it as a near-dup of an already-rejected representative
    val docs = Seq(
      (1L, base + (" spam" * 80)),
      (2L, base)).toDF("id", "body")
    val reasons = TextPipeline.curate(docs, "id", "body")
      .select("id", "reject_reason")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(reasons(1L).contains("repetitive"))
    assert(reasons(2L).isEmpty,
      s"surviving content lost to a rejected representative: $reasons")
  }

  test("without a benchmark and with scrubbing off, the input passes through") {
    val (docs, _) = mkCorpus
    val annotated = TextPipeline.curate(docs, "id", "body",
      TextPipeline.Config(scrubPii = false))
    assert(!annotated.columns.contains("n_emails"))
    val reasons = annotated.select("id", "reject_reason")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // doc 7 is only "contaminated" relative to a benchmark — with none
    // supplied it survives, so three docs pass
    assert(reasons(1L).isEmpty && reasons(7L).isEmpty)
    assert(reasons.values.count(_.isEmpty) == 3)
    assert(!reasons.values.flatten.toSet.contains("contaminated"))
  }

  test("buildCorpus equals the manually-chained stages, deterministically") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text").as("body"),
        col("source"))
    val cfg = TextPipeline.BuildConfig(
      temperatureBudget = Some(30L),
      splits = Seq(("train", 90L), ("heldout", 10L)), shards = 4, seed = 7L)
    val built = TextPipeline.buildCorpus(docs, "id", "body",
      domainCol = Some("source"), config = cfg).cache()
    try {
      // manual chain: the composition must add nothing and lose nothing
      val kept = TextPipeline.curated(
        TextPipeline.curate(docs, "id", "body", cfg.curate))
      val mixed = CorpusOps.temperatureMix(kept, "id", "body", "source", 30L)
      val withSplit = CorpusOps.splitCorpus(mixed, "id", cfg.splits, 7L)
      val manual = withSplit.join(
          CorpusOps.shuffleShards(withSplit, "id", 4, 7L)
            .withColumnRenamed("doc_id", "_id2"),
          col("id") === col("_id2")).drop("_id2")
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("id", "split", "shard", "pos")
        .collect().map(r => (r.getLong(0),
          (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      val b = key(built)
      assert(b.nonEmpty && b == key(manual))
      // placement invariants: pos is dense 1..n within each shard
      built.select("shard", "pos").collect()
        .groupBy(_.getLong(0)).foreach { case (_, rows) =>
          val ps = rows.map(_.getLong(1)).sorted
          assert(ps.toSeq == (1L to ps.length).toSeq)
        }
      // reproducibility: a repartitioned input builds the same corpus
      val again = TextPipeline.buildCorpus(docs.repartition(13), "id",
        "body", domainCol = Some("source"), config = cfg)
      assert(key(again) == b)
    } finally built.unpersist()
  }
}
