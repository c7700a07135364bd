package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DataFrame-generic corpus API must agree with the gate queries when
  * pointed at the same data — exercised through RENAMED columns so any
  * hidden dependence on the testdata schema fails loudly. */
class CorpusOpsSpec extends AnyFunSuite {
  private val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val renamed = graft.Tables.documents(spark, Sf)
    .select(col("doc_id").as("item"), col("text").as("body"),
      col("lang"), col("source"), col("n_chars"))

  test("candidatePairs and dedupClusters match the gate queries") {
    val gatePairs = SimilarityQueries.x2MinhashLsh(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val apiPairs = CorpusOps.candidatePairs(renamed, "item", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(apiPairs == gatePairs && apiPairs.nonEmpty)
    val gateClusters = SimilarityQueries.x8DedupClusters(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val apiClusters = CorpusOps.dedupClusters(renamed, "item", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(apiClusters == gateClusters)
  }

  test("deduplicate keeps cluster minima and the original schema") {
    val out = CorpusOps.deduplicate(renamed, "item", "body")
    assert(out.columns.toSeq == renamed.columns.toSeq)
    val survivors = out.select("item").collect().map(_.getLong(0)).toSet
    val clusters = CorpusOps.dedupClusters(renamed, "item", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    clusters.foreach { case (doc, cl) =>
      assert(survivors.contains(doc) == (doc == cl),
        s"doc $doc (cluster $cl) survivor status wrong")
    }
    assert(out.count() ==
      renamed.count() - clusters.count { case (d, c) => d != c })
  }

  test("exactDeduplicate keeps one row per distinct text") {
    val out = CorpusOps.exactDeduplicate(renamed, "item", "body")
    assert(out.count() ==
      renamed.select("body").distinct().count())
    // kept id is the minimum per content group
    val minPerText = renamed.groupBy("body").agg(min("item").as("m"))
      .select("m").collect().map(_.getLong(0)).toSet
    assert(out.select("item").collect().map(_.getLong(0)).toSet == minPerText)
  }

  test("repetitionStats matches d11 on renamed columns") {
    val gate = TextQueries.d11RepetitionQuality(spark, Sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val api = CorpusOps.repetitionStats(renamed, "item", "body")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(api == gate && api.nonEmpty)
  }

  test("boilerplateNgrams returns real text grams consistent with d12") {
    val api = CorpusOps.boilerplateNgrams(renamed, "item", "body", topK = 5)
      .collect()
    assert(api.nonEmpty && api.length <= 5)
    api.foreach(r => assert(r.getString(0).split(" ").length == 3))
    val gateTop = TextQueries.d12BoilerplateNgrams(spark, Sf)
      .head().getLong(1)
    assert(api.head.getLong(1) == gateTop)
  }

  test("tuned LSH geometry (2-grams, 32 perms, 8-band) works end to end") {
    val pairs = CorpusOps.candidatePairs(renamed, "item", "body",
      ngram = 2, numPerms = 32, bandSize = 8)
    val est = pairs.collect()
    assert(est.nonEmpty)
    est.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    // signatures really are 32 wide
    val sig = CorpusOps.minhashSignatures(renamed, "item", "body",
      ngram = 2, numPerms = 32).head()
    assert(sig.getSeq[Long](1).size == 32)
    val out = CorpusOps.deduplicate(renamed, "item", "body",
      threshold = 0.8, ngram = 2, numPerms = 32, bandSize = 8)
    assert(out.columns.toSeq == renamed.columns.toSeq)
    val n = renamed.count()
    val kept = out.count()
    assert(kept > 0 && kept <= n)
    // invalid geometry is rejected loudly
    intercept[IllegalArgumentException] {
      CorpusOps.candidatePairs(renamed, "item", "body", numPerms = 10,
        bandSize = 4)
    }
  }

  test("simhashNearDup matches the x10 gate at radius 1 and brute force at 3") {
    val api = CorpusOps.simhashNearDup(renamed, "item", "body", maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gate = SimilarityQueries.x10SimhashNearDup(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(api == gate && api.nonEmpty)
    // radius 3 (4 bands of 4 bits): banding must still be lossless —
    // compare against an all-pairs popcount on the collected fingerprints
    val api3 = CorpusOps.simhashNearDup(renamed, "item", "body", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fps = SimilarityQueries.x3Simhash(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    assert(api3 == brute)
  }

  test("decontaminate removes exactly the d10-flagged documents") {
    val corpus = renamed.filter(pmod(col("item"), lit(97L)) =!= 0)
    val bench = renamed.filter(pmod(col("item"), lit(97L)) === 0)
      .select(col("body").as("question"))
    val clean = CorpusOps.decontaminate(corpus, "item", "body",
      bench, "question")
    val flagged = TextQueries.d10Decontaminate(spark, Sf)
      .collect().map(_.getLong(0)).toSet
    val cleanIds = clean.select("item").collect().map(_.getLong(0)).toSet
    assert(cleanIds.intersect(flagged).isEmpty)
    assert(cleanIds.size == corpus.count() - flagged.size)
  }

  test("nearDupAgainst finds every planted cross-corpus copy") {
    val docs = graft.Tables.documents(spark, Sf)
    val corpus = docs.select(col("doc_id").as("cid"), col("text").as("body"))
    val reference = docs.filter(pmod(col("doc_id"), lit(25L)) === 0)
      .select((col("doc_id") + 100000L).as("rid"), col("text").as("rbody"))
    val hits = CorpusOps.nearDupAgainst(corpus, "cid", "body",
      reference, "rid", "rbody")
      .filter(col("est_jaccard") === 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.filter(pmod(col("doc_id"), lit(25L)) === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000L)).toSet
    assert(planted.nonEmpty && planted.subsetOf(hits),
      s"missing ${planted.diff(hits).take(5)}")
  }

  test("decontaminateNearDup drops exactly the above-threshold hits") {
    val docs = graft.Tables.documents(spark, Sf)
    val corpus = docs.select(col("doc_id").as("cid"), col("text").as("body"))
    val reference = docs.filter(pmod(col("doc_id"), lit(25L)) === 0)
      .select((col("doc_id") + 100000L).as("rid"), col("text").as("rbody"))
    val out = CorpusOps.decontaminateNearDup(corpus, "cid", "body",
      reference, "rid", "rbody", threshold = 1.0)
    assert(out.columns.toSeq == corpus.columns.toSeq)
    val expectedDrops = CorpusOps.nearDupAgainst(corpus, "cid", "body",
      reference, "rid", "rbody")
      .filter(col("est_jaccard") >= 1.0)
      .select("doc_id").distinct().count()
    assert(corpus.count() - out.count() == expectedDrops && expectedDrops > 0)
  }

  test("dedupeIncrement admits only genuinely new documents") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def noise(nWords: Int): String =
      Seq.fill(nWords)(
        Seq.fill(3 + rng.nextInt(5))(('a' + rng.nextInt(26)).toChar).mkString)
        .mkString(" ")
    val existing = graft.Tables.documents(spark, Sf)
      .select(col("doc_id").as("item"), col("text").as("body"))
    val base = existing.filter(col("item") < 6)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val increment = (
      base.take(3).map { case (id, t) => (id + 1000000L, t) } ++ // exact copies
      base.drop(3).map { case (id, t) =>
        (id + 2000000L, t + " zz1 zz2") } ++ // near-copies
      (1L to 3L).map(i => (3000000L + i, noise(50))) // novel
    ).toSeq.toDF("item", "body")
    val kept = CorpusOps.dedupeIncrement(existing, increment, "item", "body")
      .select("item").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3000001L, 3000002L, 3000003L),
      s"unexpected survivors: $kept")
  }

  test("dedupeIncrementFromStore admits exactly what dedupeIncrement " +
      "does, from signatures alone") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def noise(nWords: Int): String =
      Seq.fill(nWords)(
        Seq.fill(3 + rng.nextInt(5))(('a' + rng.nextInt(26)).toChar).mkString)
        .mkString(" ")
    // the existing corpus includes a doc too short to shingle (no sig
    // row on the recompute path, NULL sig in the store — both paths
    // must still exact-match against its digest)
    val existing = graft.Tables.documents(spark, Sf)
      .select(col("doc_id").as("item"), col("text").as("body"))
      .unionByName(Seq((900000L, "tiny")).toDF("item", "body"))
    val base = existing.filter(col("item") < 6)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val increment = (
      base.take(3).map { case (id, t) => (id + 1000000L, t) } ++
      base.drop(3).map { case (id, t) => (id + 2000000L, t + " zz1 zz2") } ++
      Seq((4000000L, "tiny"), (4000001L, "ti ny")) ++ // short docs
      (1L to 3L).map(i => (3000000L + i, noise(50)))
    ).toSeq.toDF("item", "body")
    val store = CorpusOps.signatureStore(existing, "item", "body")
    val fromStore = CorpusOps.dedupeIncrementFromStore(store, increment,
      "item", "body")
    // the store columns ride along for the caller to persist
    assert(fromStore.columns.toSeq == Seq("item", "body", "digest", "sig"))
    val got = fromStore.select("item").collect().map(_.getLong(0)).toSet
    val expected = CorpusOps.dedupeIncrement(existing, increment,
      "item", "body").select("item").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"store path $got vs recompute $expected")
    // the exact copy of the short existing doc was rejected by DIGEST
    // (it has no signature on either path); the novel short doc admitted
    assert(!got.contains(4000000L) && got.contains(4000001L), got.toString)
    intercept[IllegalArgumentException] {
      CorpusOps.dedupeIncrementFromStore(store,
        increment.withColumn("sig", lit(1)), "item", "body")
    }
  }

  test("collapseEnriched equals the exact+near text collapse, from the " +
      "riding signature columns alone") {
    val docs = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"))
    // an empty store filters nothing — dedupeIncrementFromStore then
    // just enriches the frame with its digest/sig columns
    val emptyStore = CorpusOps.signatureStore(
      docs.filter(lit(false)), "doc_id", "text")
    val enriched = CorpusOps.dedupeIncrementFromStore(
      emptyStore, docs, "doc_id", "text")
    val got = CorpusOps.collapseEnriched(enriched, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = CorpusOps.deduplicate(
        CorpusOps.exactDeduplicate(docs, "doc_id", "text"),
        "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected && got.size < docs.count(),
      s"got ${got.size} expected ${expected.size}")
  }

  test("filter-then-collapse admits the non-transitive pair corner " +
      "exactly like a batch-apart crawl") {
    import spark.implicits._
    // X near-dups a seed doc, batch-mate Y near-dups only X: admitting
    // {X, Y} together must equal crawling X then Y one batch apart —
    // the collapse-first order would sacrifice Y to X's rejection
    val tS = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val tX = tS.replace(" tau upsilon", " tau waves") // near seed
    val tY = tX.replace("alpha beta gamma delta epsilon ",
      "storm cloud river forest ember ") // near X, far from seed
    val seed = Seq((1L, tS)).toDF("doc_id", "text")
    // minhash estimates are deterministic (fixed hash family): measure
    // the three pairwise values and put the decision threshold in the
    // structural gap — the premise assert below guards the gap exists
    val est = CorpusOps.nearDupAgainst(
        Seq((10L, tX), (11L, tY)).toDF("doc_id", "text"),
        "doc_id", "text",
        seed.unionByName(Seq((10L, tX)).toDF("doc_id", "text")),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val xs = est.getOrElse((10L, 1L), 0.0) // X ~ seed
    val ys = est.getOrElse((11L, 1L), 0.0) // Y ~ seed (must be lowest)
    val yx = est.getOrElse((11L, 10L), 0.0) // Y ~ X
    assert(ys < math.min(xs, yx), s"premise gap: xs=$xs ys=$ys yx=$yx")
    val t = (ys + math.min(xs, yx)) / 2.0
    val store = CorpusOps.signatureStore(seed, "doc_id", "text")
    def admit(batch: org.apache.spark.sql.DataFrame,
        st: org.apache.spark.sql.DataFrame) =
      CorpusOps.collapseEnriched(
        CorpusOps.dedupeIncrementFromStore(st, batch, "doc_id", "text",
          threshold = t),
        "doc_id", threshold = t)
    val together = admit(Seq((10L, tX), (11L, tY)).toDF("doc_id", "text"),
      store).select("doc_id").collect().map(_.getLong(0)).toSet
    // apart: X's batch admits nothing, so the store is unchanged when
    // Y's batch arrives
    val apartX = admit(Seq((10L, tX)).toDF("doc_id", "text"), store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val apartY = admit(Seq((11L, tY)).toDF("doc_id", "text"), store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(apartX.isEmpty, apartX.toString)
    assert(together == apartY && together == Set(11L),
      s"together $together apart $apartY (t=$t xs=$xs ys=$ys yx=$yx)")
  }

  test("fingerprintOverlap catches an embedded copied paragraph") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    // word-shaped noise so the whole-document MinHash comparison below
    // sees a rich, distinct shingle set per doc
    def noise(nWords: Int): String =
      Seq.fill(nWords)(
        Seq.fill(2 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString)
        .mkString(" ")
    val paragraph = " the quick brown fox jumps over the lazy dog while " +
      "seventeen zebras watch from behind the old stone wall near the river "
    val footer = " all rights reserved contact legal department for details"
    // docs 1 and 2 embed the same paragraph inside different noise; the
    // footer is on EVERY doc (boilerplate) and must not create pairs on
    // its own under the doc-frequency cap
    val docs = (Seq(
      (1L, noise(40) + paragraph + noise(40) + footer),
      (2L, noise(40) + paragraph + noise(40) + footer)) ++
      (3L to 12L).map(i => (i, noise(80) + footer))).toDF("id", "body")
    val got = CorpusOps.fingerprintOverlap(docs, "id", "body",
      maxDocFreq = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 2L)), s"planted overlap missed: $got")
    assert(got((1L, 2L)) >= 3)
    // no footer-only pair may survive the boilerplate cap
    assert(got.keySet == Set((1L, 2L)), s"boilerplate leaked pairs: $got")
    // whole-document MinHash must MISS this pair (the paragraph is a
    // minority of each doc) — the reason this operator exists
    val minhashPairs = CorpusOps.candidatePairs(docs, "id", "body")
      .filter(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!minhashPairs.contains((1L, 2L)))
  }

  test("x13 gate query returns capped, thresholded, ordered pairs") {
    val got = SimilarityQueries.x13FingerprintOverlap(spark, Sf).collect()
    got.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 3)
    }
    val pairs = got.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == pairs.toSeq.sorted)
    // exact duplicate texts (d1 shows the corpus has them) must appear
    val dups = TextQueries.d1ExactDedup(spark, Sf)
      .filter(col("n_copies") > 1).count()
    if (dups > 0) assert(got.nonEmpty)
  }

  test("tfidfKeywords matches the d14 gate twin") {
    val gate = TextQueries.d14TfidfKeywords(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    val api = CorpusOps.tfidfKeywords(renamed, "item", "body")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(api == gate && api.nonEmpty)
  }

  test("scrubPii redacts in place and preserves the schema shape") {
    import spark.implicits._
    val df = Seq((1L, "mail a@b.co on 1.2.3.4"), (2L, "clean row"))
      .toDF("id", "body")
    val out = CorpusOps.scrubPii(df, "body")
    assert(out.columns.toSeq == Seq("id", "body", "n_emails", "n_ips"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getString(1) == "mail <EMAIL> on <IP>")
    assert(rows(0).getLong(2) == 1 && rows(0).getLong(3) == 1)
    assert(rows(1).getString(1) == "clean row")
    assert(rows(1).getLong(2) == 0 && rows(1).getLong(3) == 0)
  }

  test("lengthDeciles matches the d15 gate twin") {
    // valid because testdata guarantees n_chars == length(text)
    val gate = TextQueries.d15LengthDeciles(spark, Sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val api = CorpusOps.lengthDeciles(renamed, "item", "body", "lang")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(api == gate && api.nonEmpty)
  }

  test("dupPassages merges shared 16-gram runs into exact word spans") {
    import spark.implicits._
    def ws(tag: String, n: Int): String =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = ws("s", 20) // a 20-word run present in docs 1 and 2
    val docs = Seq(
      (1L, ws("a", 10) + " " + shared + " " + ws("b", 10)),
      (2L, ws("c", 5) + " " + shared + " " + ws("d", 7)),
      (3L, ws("e", 30))).toDF("item", "body")
    val spans = CorpusOps.dupPassages(docs, "item", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // grams fully inside the shared run start at [10,14] in doc 1 and
    // [5,9] in doc 2 -> one span each covering exactly the 20 words
    assert(spans == Set((1L, 10L, 20L), (2L, 5L, 20L)), s"$spans")
  }

  test("dupPassages flags short whole-doc duplicates and clamps the span") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny shared five word doc"),
      (2L, "tiny shared five word doc"),
      (3L, "an unrelated short doc")).toDF("item", "body")
    val spans = CorpusOps.dupPassages(docs, "item", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // < 16 words => ONE whole-doc shingle; the span must clamp to the
    // real word count, not pos + 16
    assert(spans == Set((1L, 0L, 5L), (2L, 0L, 5L)), s"$spans")
  }

  test("cutPassages removes exactly the span words and normalizes text") {
    import spark.implicits._
    def ws(tag: String, n: Int): String =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = ws("s", 20)
    val docs = Seq(
      (1L, ws("a", 10) + "  " + shared + " " + ws("b", 10)), // double space
      (2L, ws("c", 5) + " " + shared + " " + ws("d", 7)),
      (3L, "Keep ME   Unchanged")).toDF("item", "body")
    val spans = CorpusOps.dupPassages(docs, "item", "body")
    val out = CorpusOps.cutPassages(docs, "item", "body", spans)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((ws("a", 10) + " " + ws("b", 10), 20L, 20L)))
    assert(out(2L) == ((ws("c", 5) + " " + ws("d", 7), 12L, 20L)))
    // uncut doc still comes back lowercased + whitespace-collapsed
    assert(out(3L) == (("keep me unchanged", 3L, 0L)))
  }

  test("cutPassages empties a whole-document duplicate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny shared five word doc"),
      (2L, "tiny shared five word doc")).toDF("item", "body")
    val spans = CorpusOps.dupPassages(docs, "item", "body")
    val out = CorpusOps.cutPassages(docs, "item", "body", spans)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(out == Set((1L, "", 0L, 5L), (2L, "", 0L, 5L)))
  }

  test("mixDomains keeps the binding domain whole and downsamples the rest") {
    import spark.implicits._
    val docs = ((0 until 6).map(i => (i.toLong, s"alpha doc number $i", "A")) ++
      (10 until 14).map(i => (i.toLong, s"beta doc number $i", "B")))
      .toDF("item", "body", "dom")
    // ratios: A 6/1 = 6, B 4/2 = 2 -> B binds; quotas A = 4*1/2 = 2, B = 4
    val out = CorpusOps.mixDomains(docs, "item", "body", "dom",
      d => if (d == "A") 1L else 2L)
    val byDom = out.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom == Map("A" -> 2L, "B" -> 4L), s"$byDom")
    // schema passes through untouched and the pick is deterministic
    assert(out.columns.toSeq == Seq("dom", "item", "body"))
    val again = CorpusOps.mixDomains(docs, "item", "body", "dom",
      d => if (d == "A") 1L else 2L).select("item").collect().toSet
    assert(again == out.select("item").collect().toSet)
    // the scale contract: quotas apply via the (domain × subbucket)
    // histogram — any residual Window partitions by (domain, subbucket),
    // never by the bare domain (one hot domain must not become one task)
    out.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Window")).foreach { l =>
        assert(l.contains("_g_sub"),
          s"Window must partition by (domain, subbucket):\n$l")
      }
  }

  test("temperatureMix equals the brute-force sqrt-weighted selection") {
    import spark.implicits._
    // skewed corpus: A 160 docs, B 40, C 10 — τ=1/2 upweights B and C
    val docs = ((0 until 160).map(i => (i.toLong, s"alpha text $i", "A")) ++
      (200 until 240).map(i => (i.toLong, s"beta text $i", "B")) ++
      (300 until 310).map(i => (i.toLong, s"gamma text $i", "C")))
      .toDF("item", "body", "dom")
    val budget = 100L
    val got = CorpusOps.temperatureMix(docs, "item", "body", "dom",
      budget = budget, subs = 8)
    // brute force: integer sqrt weights, integer-division targets, then
    // the per-domain (hash mod subs, hash, id) prefix
    graft.Graft.setup(spark)
    val rows = docs.select(col("item"), col("dom"),
        call_function("md5_prefix28", col("body")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val counts = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val wts = counts.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val tw = wts.values.sum
    val want = rows.groupBy(_._2).toSeq.flatMap { case (d, rs) =>
      val target = math.min(counts(d), budget * wts(d) / tw)
      rs.sortBy { case (id, _, h) => (h % 8, h, id) }.take(target.toInt).toSeq
    }.map(_._1).toSet
    assert(got.collect().map(_.getLong(1)).toSet == want && want.nonEmpty)
    // sanity: the small domain keeps a LARGER share than proportional
    val kept = got.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("C").toDouble / counts("C") > kept("A").toDouble / counts("A"))
    // scale contract: any residual window partitions by (domain, subbucket)
    got.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Window")).foreach { l =>
        assert(l.contains("_g_sub"),
          s"Window must partition by (domain, subbucket):\n$l")
      }
  }

  test("temperatureMix keeps everything when the budget exceeds the corpus") {
    import spark.implicits._
    val docs = Seq((1L, "one doc", "A"), (2L, "two doc", "B"))
      .toDF("item", "body", "dom")
    assert(CorpusOps.temperatureMix(docs, "item", "body", "dom",
      budget = 1000L).count() == 2L)
  }

  test("null-domain rows are excluded and never distort real-domain quotas") {
    import spark.implicits._
    val docs = ((0 until 20).map(i => (i.toLong, s"a doc $i", "A")) ++
      (100 until 120).map(i => (i.toLong, s"n doc $i", null: String)))
      .toDF("item", "body", "dom")
    // with the nulls in the weight math, A's sqrt-share would halve; the
    // exclusion keeps A's quota computed over A alone
    val kept = CorpusOps.temperatureMix(docs, "item", "body", "dom",
      budget = 10L, subs = 4)
    assert(kept.count() == 10L)
    assert(kept.filter(col("dom").isNull).count() == 0L)
    val mixed = CorpusOps.mixDomains(docs, "item", "body", "dom", _ => 1L)
    assert(mixed.count() == 20L && mixed.filter(col("dom").isNull).count() == 0L)
  }

  test("splitCorpus hashes string ids and rejects over-wide weight sums") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (s"doc-$i", s"b $i")).toDF("item", "body")
    val out = CorpusOps.splitCorpus(docs, "item",
        Seq(("train", 9L), ("test", 1L)), seed = 3L)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // string keys must spread across slots, not collapse to one split
    assert(out.values.sum == 200L && out.size == 2, s"$out")
    intercept[IllegalArgumentException] {
      CorpusOps.splitCorpus(docs, "item", Seq(("a", 1L << 21), ("b", 1L)))
    }
  }

  test("upsampleEpochs emits floor copies plus a hash-selected fraction, map-side") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"body text $i")).toDF("item", "body")
    // 2.5 epochs: everyone twice, ~half a third time — brute-force check
    val out = CorpusOps.upsampleEpochs(docs, "item", "body", lit(250L))
      .select(col("item"), col("copy")).as[(Long, Long)].collect()
    graft.Graft.setup(spark)
    val slots = docs.select(col("item"),
        pmod(call_function("md5_prefix28", col("body")), lit(100L)))
      .as[(Long, Long)].collect().toMap
    val want = slots.toSeq.flatMap { case (id, h) =>
      val n = 2 + (if (h < 50) 1 else 0)
      (0L until n.toLong).map(id -> _)
    }.toSet
    assert(out.toSet == want && out.length > 400 && out.length < 600)
    // whole epochs: exactly e copies of every doc, fraction selects none
    assert(CorpusOps.upsampleEpochs(docs, "item", "body", lit(300L))
      .count() == 600L)
    // zero epochs: nothing survives
    assert(CorpusOps.upsampleEpochs(docs, "item", "body", lit(0L)).count() == 0L)
    // purely map-side: no exchange anywhere in the physical plan
    assert(!CorpusOps.upsampleEpochs(docs, "item", "body", lit(250L))
      .queryExecution.executedPlan.toString.contains("Exchange"),
      "upsampleEpochs must not shuffle")
  }

  test("splitCorpus assigns every doc deterministically with no shuffle") {
    import spark.implicits._
    val docs = (0 until 500).map(i => (i.toLong, s"doc $i")).toDF("item", "body")
    val splits = Seq(("train", 96L), ("val", 2L), ("test", 2L))
    val out = CorpusOps.splitCorpus(docs, "item", splits, seed = 7L)
    val byS = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS.values.sum == 500L)
    // hash slots are uniform: train gets the overwhelming share
    assert(byS("train") > 400L && byS.getOrElse("val", 0L) > 0L)
    // same seed -> same assignment; different seed -> a different one
    val again = CorpusOps.splitCorpus(docs, "item", splits, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(again == out.collect().map(r => (r.getLong(0), r.getString(2))).toSet)
    val other = CorpusOps.splitCorpus(docs, "item", splits, seed = 8L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(other != again)
    // purely map-side: the physical plan has no exchange at all
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "splitCorpus must not shuffle")
  }

  test("mixDomains drops zero-weight domains") {
    import spark.implicits._
    val docs = Seq((1L, "one doc", "A"), (2L, "two doc", "B"))
      .toDF("item", "body", "dom")
    val out = CorpusOps.mixDomains(docs, "item", "body", "dom",
      d => if (d == "A") 1L else 0L)
    assert(out.select("dom").collect().map(_.getString(0)).toSeq == Seq("A"))
  }

  test("selectTokenBudget equals the brute-force global prefix") {
    import spark.implicits._
    val docs = (0 until 200)
      .map(i => (i.toLong, s"doc body $i ${"pad " * (i % 7)}", (i % 5).toLong,
        (i % 13 + 1).toLong))
      .toDF("item", "body", "b", "t")
    val budget = 400L
    val got = CorpusOps.selectTokenBudget(docs, "item", "body",
        bucket = col("b"), toks = col("t"), budget = budget, subs = 8)
      .collect().map(_.getLong(0)).toSet
    // brute force: same total order, running sum capped at the budget
    graft.Graft.setup(spark)
    val rows = docs.select(col("item"), col("b"), col("t"),
        org.apache.spark.sql.functions.call_function("md5_prefix28", col("body")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy { case (id, b, _, hh) => (-b, hh % 8, hh, id) }
    var cum = 0L
    val want = rows.takeWhile { case (_, _, t, _) =>
      cum += t; cum <= budget }.map(_._1).toSet
    assert(got == want && got.nonEmpty, s"${got.size} vs ${want.size}")
  }

  test("selectTokenBudget edge budgets: zero selects nothing, huge selects all") {
    import spark.implicits._
    val docs = Seq((1L, "a doc", 1L, 5L), (2L, "b doc", 2L, 5L))
      .toDF("item", "body", "b", "t")
    assert(CorpusOps.selectTokenBudget(docs, "item", "body",
      col("b"), col("t"), 0L).count() == 0L)
    assert(CorpusOps.selectTokenBudget(docs, "item", "body",
      col("b"), col("t"), 1000L).count() == 2L)
  }

  test("shuffleShards is a deterministic permutation with dense shard positions") {
    import spark.implicits._
    val docs = (0 until 100).map(i => (i.toLong, s"doc $i")).toDF("item", "body")
    val out = CorpusOps.shuffleShards(docs, "item", shards = 8, seed = 1L)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSet == (0L until 100L).toSet)
    // positions are dense 1..n within each shard
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.size).map(_.toLong).toSeq)
    }
    // same seed replays the permutation; a different seed moves some doc
    val again = CorpusOps.shuffleShards(docs, "item", shards = 8, seed = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
    val other = CorpusOps.shuffleShards(docs, "item", shards = 8, seed = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.exists { case (id, sh, _) => other(id) != sh })
  }

  test("bigramLmScore matches brute force and zeroes sub-bigram docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "solo"), (4L, ""))
      .toDF("item", "body")
    val out = CorpusOps.bigramLmScore(docs, "item", "body")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // corpus bigrams: "the cat" x2, "cat sat" x1, "cat ran" x1
    assert(out(1L) == ((3L, 2L, 1.5))) // 2 ("the cat") + 1 ("cat sat")
    assert(out(2L) == ((3L, 2L, 1.5)))
    assert(out(3L) == ((0L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("classifyQuality is the exact hash-weight mean with sign labels") {
    import spark.implicits._
    val docs = Seq((1L, "Alpha beta"), (2L, ""), (3L, "gamma")).toDF("item", "body")
    val out = CorpusOps.classifyQuality(docs, "item", "body")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getString(4)))).toMap
    def w(word: String): Long =
      graft.functions.PortableHash.md5Prefix28(
        org.apache.spark.unsafe.types.UTF8String.fromString(word)) % 2001 - 1000
    val s1 = w("alpha") + w("beta")
    assert(out(1L)._1 ==
      BigDecimal(s1 / 2000.0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(out(1L)._2 == (if (s1 > 0) "keep" else "drop"))
    assert(out(2L) == ((0.0, "drop")))
    val s3 = w("gamma")
    assert(out(3L)._2 == (if (s3 > 0) "keep" else "drop"))
  }

  test("encodeIds: ids are vocab indexes of the wordpiece pieces, -1 on OOV") {
    import spark.implicits._
    graft.Graft.setup(spark)
    val vocab = Seq("ab", "a", "b", "c")
    val docs = Seq((1L, "ab abc"), (2L, "xa"), (3L, "")).toDF("item", "body")
    val got = CorpusOps.encodeIds(docs, "item", "body", vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // greedy: "ab"->0; "abc" -> ab,c -> 0,3; "xa": x OOV -> -1, a -> 1
    assert(got(1L) == Seq(0, 0, 3))
    assert(got(2L) == Seq(-1, 1))
    assert(got(3L) == Seq())
    // cross-check against the piece-string kernel on a corpus slice
    val real = graft.Tables.documents(spark, Sf).limit(50)
    val rv = CorpusOps.wordpieceVocab(real, "text", topK = 100)
    val pieces = real.select(col("doc_id"),
        flatten(transform(call_function("split_words", col("text")),
          w => CorpusOps.wordpieceEncode(w, rv))).as("ps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val ids = CorpusOps.encodeIds(real, "doc_id", "text", rv)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val idx = rv.zipWithIndex.toMap
    assert(pieces.keySet == ids.keySet)
    for ((d, ps) <- pieces)
      assert(ids(d) == ps.map(p => idx.getOrElse(p, -1)))
  }

  test("wordpieceVocabWithFreqs is order-DETERMINISTIC: the single-char " +
      "tail sorts (freq desc, piece asc), never collect() shuffle order") {
    val docs = graft.Tables.documents(spark, Sf)
    // indices are token ids (encodeIds / saveTokenizer): the same corpus
    // on a different partitioning must assign the same piece → id map
    val v1 = CorpusOps.wordpieceVocabWithFreqs(docs, "text", topK = 50)
    val v2 = CorpusOps.wordpieceVocabWithFreqs(
      docs.repartition(17, col("doc_id")), "text", topK = 50)
    assert(v1 == v2, "vocab order must not depend on input partitioning")
    // and the tail's internal order is the documented sort
    val tail = v1.drop(50)
    assert(tail == tail.sortBy { case (p, f) => (-f, p) },
      s"single-char tail must sort (freq desc, piece asc): $tail")
  }

  test("tokenizer artifact round-trips: loaded vocab/merges encode identically") {
    graft.Graft.setup(spark)
    val docs = graft.Tables.documents(spark, Sf)
    val vocab = CorpusOps.wordpieceVocabWithFreqs(docs, "text", topK = 100)
    val merges = CorpusOps.trainBpeChars(docs, "text", rounds = 3)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2)))
      .toSeq
    val path = java.nio.file.Files.createTempDirectory("tok").toString + "/t"
    CorpusOps.saveTokenizer(spark, path, vocab, merges)
    val (lv, lm) = CorpusOps.loadTokenizer(spark, path)
    assert(lv == vocab && lm == merges)
    // encoding with the LOADED artifact is bit-identical
    val a = CorpusOps.encodeIds(docs, "doc_id", "text", vocab.map(_._1))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = CorpusOps.encodeIds(docs, "doc_id", "text", lv.map(_._1))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
    // a merge-free tokenizer persists with an empty merges relation
    val p2 = java.nio.file.Files.createTempDirectory("tok").toString + "/w"
    CorpusOps.saveTokenizer(spark, p2, vocab)
    assert(CorpusOps.loadTokenizer(spark, p2)._2.isEmpty)
  }

  test("decodeIds round-trips: lowercased text minus whitespace, OOV visible") {
    import spark.implicits._
    graft.Graft.setup(spark)
    val docs = graft.Tables.documents(spark, Sf)
    val vocab = CorpusOps.wordpieceVocab(docs, "text", topK = 100)
    val enc = CorpusOps.encodeIds(docs, "doc_id", "text", vocab)
    val decoded = enc
      .select(col("doc_id"), CorpusOps.decodeIds(col("ids"), vocab).as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = docs.select(col("doc_id"),
        regexp_replace(lower(col("text")), "\\s+", "").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decoded == expected && decoded.nonEmpty)
    // an OOV char (absent from the harvested alphabet) decodes to U+FFFD
    val oov = Seq((1L, "abþ")).toDF("item", "body")
    val d = CorpusOps.encodeIds(oov, "item", "body", Seq("a", "b"))
      .select(CorpusOps.decodeIds(col("ids"), Seq("a", "b")))
      .head().getString(0)
    assert(d == "ab�")
  }

  test("packTokenIds: exact seqLen rows, order-preserving round-trip") {
    graft.Graft.setup(spark)
    val docs = graft.Tables.documents(spark, Sf)
    val vocab = CorpusOps.wordpieceVocab(docs, "text", topK = 100)
    val eos = vocab.size
    val enc = CorpusOps.encodeIds(docs, "doc_id", "text", vocab,
      extraCols = Seq("lang"))
    val L = 64
    val packed = CorpusOps.packTokenIds(enc, "doc_id", "lang", "ids", L, eos)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Int](3)))
    // every sequence is exactly L ids except each shard's last
    val byShard = packed.groupBy(_._1)
    for ((_, rows) <- byShard) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq ==
        (0L until sorted.length.toLong).toSeq) // dense
      sorted.dropRight(1).foreach { r => assert(r._3 == L && r._4.size == L) }
      assert(sorted.last._3 >= 1 && sorted.last._3 <= L)
    }
    // round-trip: concatenating a shard's sequences reproduces the
    // doc-order id stream with one eos after each document
    val encRows = enc.collect().map(r =>
      (r.getString(1), r.getLong(0), r.getSeq[Int](2))).toSeq
    for ((shard, rows) <- byShard) {
      val expected = encRows.filter(_._1 == shard).sortBy(_._2)
        .flatMap(x => x._3 :+ eos)
      val got = rows.sortBy(_._2).flatMap(_._4).toSeq
      assert(got == expected, s"shard $shard stream mismatch")
    }
    // at least one document must straddle a cut for the spec to bite
    val lens = encRows.map(_._3.size + 1)
    assert(lens.exists(_ > 1) && packed.exists(_._2 > 0))
  }
}
