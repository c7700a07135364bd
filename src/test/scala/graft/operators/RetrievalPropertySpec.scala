package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generated corpora for the retrieval surface (fixed seeds —
  * reproducible, no flaky search): the frozen-stats column scorer must
  * equal the distributed aggregation scorer on ANY corpus, the
  * positional phrase fold must equal a naive consecutive-word scan, and
  * the ranking metrics must respect their mathematical bounds. */
class RetrievalPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  // small vocabulary forces term collisions (shared df) across docs
  private val word = Gen.oneOf("ape", "bee", "cat", "dog", "eel", "fox")
  private val docGen = for {
    n <- Gen.chooseNum(0, 12)
    ws <- Gen.listOfN(n, word)
  } yield ws.mkString(" ")

  private def corpus(nDocs: Int): org.apache.spark.sql.DataFrame =
    samples(docGen, nDocs).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("property: frozen-stats column scorer equals the distributed scorer") {
    val docs = corpus(60)
    val terms = Seq("ape", "cat", "eel")
    val path = java.nio.file.Files.createTempDirectory("rprop").toString + "/idx"
    RetrievalOps.indexCorpus(docs, "doc_id", "text", path, nBuckets = 8)
    val (n, sumDl, dfs) = RetrievalOps.frozenStats(spark, path, terms)
    val colScores = docs
      .withColumn("bm25",
        RetrievalOps.bm25ScoreColumn(col("text"), terms, n, sumDl, dfs))
      .filter(col("bm25") > 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val aggScores = RetrievalOps.bm25Scores(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(colScores == aggScores && aggScores.nonEmpty)
  }

  test("property: BM25 is monotonic in tf at fixed doc length") {
    // same dl, increasing tf of the query term → strictly higher score
    val docs = Seq(
      (1L, "ape bee bee bee"), (2L, "ape ape bee bee"),
      (3L, "ape ape ape bee"), (4L, "ape ape ape ape")
    ).toDF("doc_id", "text")
    val got = RetrievalOps.bm25Scores(docs, "doc_id", "text", Seq("ape"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) < got(2L) && got(2L) < got(3L) && got(3L) < got(4L))
  }

  test("property: phrase fold equals a naive consecutive-word scan") {
    val docs = corpus(80)
    val path = java.nio.file.Files.createTempDirectory("rprop2").toString + "/idx"
    RetrievalOps.indexCorpus(docs, "doc_id", "text", path, nBuckets = 8,
      withPositions = true)
    for (phrase <- Seq(Seq("ape", "bee"), Seq("cat", "cat"),
        Seq("dog", "eel", "fox"))) {
      val got = RetrievalOps.phraseTopK(spark, path, phrase, k = 1000)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val naive = docs.collect().map { r =>
        val ws = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
        r.getLong(0) -> ws.indices.count(i =>
          i + phrase.size <= ws.length &&
            phrase.indices.forall(j => ws(i + j) == phrase(j))).toLong
      }.filter(_._2 > 0).toMap
      assert(got == naive, s"phrase $phrase: $got vs $naive")
    }
  }

  test("property: applyMerge equals a driver-side greedy reference") {
    graft.Graft.setup(spark)
    def refMerge(ws: Seq[String], wa: String, wb: String): Seq[String] = {
      val out = collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < ws.length) {
        if (i + 1 < ws.length && ws(i) == wa && ws(i + 1) == wb) {
          out += s"$wa $wb"; i += 2
        } else { out += ws(i); i += 1 }
      }
      out.toSeq
    }
    val tokGen = Gen.oneOf("a", "b", "c")
    val wsGen = for {
      n <- Gen.chooseNum(0, 10)
      ws <- Gen.listOfN(n, tokGen)
    } yield ws
    val cases = samples(wsGen, 60).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws: Seq[String]) }
    val df = cases.toDF("id", "ws")
    for ((wa, wb) <- Seq(("a", "b"), ("a", "a"), ("c", "c"), ("b", "c"))) {
      val got = df.select(col("id"),
          CorpusOps.applyMerge(col("ws"), wa, wb).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      cases.foreach { case (id, ws) =>
        assert(got(id) == refMerge(ws, wa, wb),
          s"($wa,$wb) on $ws: ${got(id)} vs ${refMerge(ws, wa, wb)}")
      }
    }
  }

  test("property: ranking metrics respect their bounds; perfect ranking maxes them") {
    val qrels = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("qid", "id")
    // perfect: all relevant docs first
    val perfect = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L),
      (1L, 4L, 99L)).toDF("qid", "rank", "id")
    val p = RetrievalOps.evalRanking(perfect, "qid", "rank", "id",
      qrels, "qid", "id", k = 10).head()
    assert(p.getDouble(3) == 1.0 && p.getDouble(4) == 1.0 &&
      p.getDouble(5) == 1.0)
    // generated rankings: bounds hold
    val permGen = Gen.pick(5, 10L to 20L)
    samples(permGen, 20).zipWithIndex.foreach { case (ids, i) =>
      val ranked = ids.toSeq.zipWithIndex
        .map { case (id, r) => (1L, (r + 1).toLong, id) }
        .toDF("qid", "rank", "id")
      val rows = RetrievalOps.evalRanking(ranked, "qid", "rank", "id",
        qrels, "qid", "id", k = 5).collect()
      rows.foreach { m =>
        assert(m.getDouble(3) >= 0.0 && m.getDouble(3) <= 1.0, s"recall i=$i")
        assert(m.getDouble(4) >= 0.0 && m.getDouble(4) <= 1.0, s"mrr i=$i")
        assert(m.getDouble(5) >= 0.0 && m.getDouble(5) <= 1.0, s"ndcg i=$i")
      }
    }
  }

  test("property: wordpiece equals a driver-side greedy reference on any input") {
    graft.Graft.setup(spark)
    // random words over a 4-char alphabet, random vocabs of short pieces:
    // the kernel must (1) match a straightforward reference greedy
    // implementation and (2) conserve content (concat(pieces) == word)
    val alpha = Gen.oneOf('a', 'b', 'c', 'd')
    val wGen = for {
      n <- Gen.chooseNum(1, 14)
      cs <- Gen.listOfN(n, alpha)
    } yield cs.mkString
    val pieceGen = for {
      n <- Gen.chooseNum(1, 4)
      cs <- Gen.listOfN(n, alpha)
    } yield cs.mkString
    val vocabGen = for {
      n <- Gen.chooseNum(1, 12)
      ps <- Gen.listOfN(n, pieceGen)
    } yield ps.distinct
    def refGreedy(w: String, vocab: Set[String], maxLen: Int): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        val l = (math.min(maxLen, w.length - pos) to 1 by -1)
          .find(l => vocab(w.substring(pos, pos + l)))
        l match {
          case Some(n) => out += w.substring(pos, pos + n); pos += n
          case None => out += w.substring(pos, pos + 1); pos += 1
        }
      }
      out.toSeq
    }
    val words = samples(wGen, 120)
    samples(vocabGen, 12).foreach { vocab =>
      val maxLen = vocab.map(_.length).max
      val got = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("i", "w")
        .select(col("w"),
          CorpusOps.wordpieceEncode(col("w"), vocab).as("p"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      words.foreach { w =>
        val exp = refGreedy(w, vocab.toSet, maxLen)
        assert(got(w) == exp, s"w=$w vocab=$vocab")
        assert(got(w).mkString == w, s"content not conserved: $w")
      }
    }
  }
}
