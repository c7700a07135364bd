package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native tokenization kernels must be BIT-identical to the composable
  * HOF formulation they replaced — that identity keeps the minhash-family
  * DuckDB-oracle hashes stable.
  */
class TextExprsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.Graft.setup(s)
    s
  }

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "The quick Brown fox JUMPS over the lazy dog"),
      (2L, "one two"),
      (3L, "single"),
      (4L, ""),
      (5L, "   leading and  trailing   "),
      (6L, "tabs\tand\nnewlines\r\nmixed   in"),
      (7L, "a b c d e f g h i j k l m n o p"),
      (8L, "Ünïcödé WÖRDS Straße ÀÉÎ")).toDF("doc_id", "text")
  }

  private def wordsHof(t: org.apache.spark.sql.Column) =
    filter(split(lower(t), "\\s+"), w => length(w) > 0)

  private def shinglesHof(ws: org.apache.spark.sql.Column) =
    when(size(ws) < 3, array(concat_ws(" ", ws)))
      .otherwise(transform(sequence(lit(0), size(ws) - 3),
        i => concat_ws(" ", slice(ws, i + 1, lit(3)))))

  test("split_words matches the filter/split/lower HOF form exactly") {
    val bad = docs.select(
      call_function("split_words", col("text")).as("k"),
      wordsHof(col("text")).as("h"))
      .filter(not(col("k") <=> col("h")))
    assert(bad.count() == 0)
  }

  test("word_ngrams(3) matches the transform/slice/concat_ws HOF form exactly") {
    val bad = docs.select(
      call_function("word_ngrams", col("text"), lit(3)).as("k"),
      shinglesHof(wordsHof(col("text"))).as("h"))
      .filter(not(col("k") <=> col("h")))
    assert(bad.count() == 0)
  }

  test("edge semantics: empty doc yields one empty shingle, short docs join all words") {
    val m = docs.select(col("doc_id"),
      call_function("word_ngrams", col("text"), lit(3)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(4L) == Seq(""))
    assert(m(2L) == Seq("one two"))
    assert(m(3L) == Seq("single"))
    assert(m(1L).head == "the quick brown")
    assert(m(1L).size == 7) // 9 words -> 7 trigrams
  }

  test("null text yields null (not a row explosion)") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(d.select(call_function("word_ngrams", col("text"), lit(3)))
      .head().isNullAt(0))
  }

  test("bad n is an analysis error, not an executor-side crash") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    for (badN <- Seq(lit(0), lit(-2), lit(null).cast("int"))) {
      intercept[org.apache.spark.sql.AnalysisException] {
        d.select(call_function("word_ngrams", col("text"), badN)).collect()
      }
    }
  }

  test("ngram_hashes: rolling update equals direct per-gram recompute") {
    // recompute each gram hash from scratch (Horner over FNV word hashes)
    // and compare to the kernel's rolling-update output on every doc
    def fnv(w: String): Long = {
      var h = 0xcbf29ce484222325L
      w.foreach { c => h ^= c; h *= 0x100000001b3L }
      h
    }
    val B = 0x9E3779B97F4A7C15L
    def direct(text: String, n: Int): Seq[Long] = {
      val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      def horner(sl: Seq[String]): Long =
        sl.foldLeft(0L)((g, w) => g * B + fnv(w))
      if (ws.length < n) Seq(horner(ws.toSeq))
      else ws.toSeq.sliding(n).map(horner).toSeq
    }
    for (n <- Seq(1, 2, 3, 16)) {
      val got = docs.select(col("doc_id"),
        call_function("ngram_hashes", col("text"), lit(n)).as("gh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val want = docs.select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> direct(r.getString(1), n)).toMap
      assert(got == want, s"n=$n")
    }
  }

  test("ngram_hashes aligns with word_ngrams: equal grams hash equal") {
    // two docs sharing a 3-gram must produce the same hash at the shared
    // positions, and differing grams must differ (collision-free in test)
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "zz alpha beta gamma yy")).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
      call_function("ngram_hashes", col("text"), lit(3)).as("gh"),
      call_function("word_ngrams", col("text"), lit(3)).as("gs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[String](2)))
    val byGram = rows.flatMap { case (_, hs, gs) => gs.zip(hs) }
    // identical gram text <=> identical hash across docs
    byGram.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).distinct.size == 1) }
    assert(byGram.map(_._1).distinct.size == byGram.map(_._2).distinct.size)
  }

  test("char_ngrams: all substrings 1..maxN at every position") {
    val s = spark
    import s.implicits._
    val got = Seq(("abc")).toDF("w")
      .select(call_function("char_ngrams", col("w"), lit(2)))
      .head().getSeq[String](0)
    assert(got == Seq("a", "ab", "b", "bc", "c"), got.toString)
    val empty = Seq(("")).toDF("w")
      .select(call_function("char_ngrams", col("w"), lit(3)))
      .head().getSeq[String](0)
    assert(empty.isEmpty)
  }

  test("wordpiece: greedy longest-match, char fallback, unicode positions") {
    val s = spark
    import s.implicits._
    def enc(w: String, vocab: Seq[String]): Seq[String] =
      Seq((w)).toDF("w")
        .select(call_function("wordpiece", col("w"), lit(vocab.toArray)))
        .head().getSeq[String](0)
    val v = Seq("abc", "ab", "c", "a", "b", "z")
    // longest wins at each position; the leftover suffix re-matches greedily
    assert(enc("abcab", v) == Seq("abc", "ab"))
    assert(enc("abz", v) == Seq("ab", "z"))
    // greedy is NOT optimal segmentation: abca -> abc + a (not ab + ca)
    assert(enc("abca", v) == Seq("abc", "a"))
    // out-of-vocab char emits itself (serving never fails on new text)
    assert(enc("aqb", v) == Seq("a", "q", "b"))
    // code-point (not byte) positions: multibyte chars segment cleanly
    assert(enc("Straße", Seq("Stra", "ße")) == Seq("Stra", "ße"))
    // vocab must be a literal
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", Seq("x"))).toDF("w", "v")
        .select(call_function("wordpiece", col("w"), col("v"))).head()
    }
    assert(e.getMessage.contains("foldable") ||
      e.getMessage.toLowerCase.contains("literal"))
    // a TYPED NULL literal is foldable and shape-correct — it must fail
    // at analysis with a clear message, not NPE at execution
    val nullVocab = lit(null).cast("array<string>")
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x")).toDF("w")
        .select(call_function("wordpiece", col("w"), nullVocab)).head()
    }
    assert(e2.getMessage.contains("null"), e2.getMessage)
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x")).toDF("w")
        .select(call_function("viterbi_segment", col("w"),
          lit(Array("x")), lit(null).cast("array<bigint>"))).head()
    }
    assert(e3.getMessage.contains("null"), e3.getMessage)
  }

  test("viterbi_segment: optimal beats greedy, OOV chars score zero") {
    val s = spark
    import s.implicits._
    def seg(w: String, vocab: Seq[(String, Long)]) = {
      val r = Seq((w)).toDF("w")
        .select(call_function("viterbi_segment", col("w"),
          lit(vocab.map(_._1).toArray), lit(vocab.map(_._2).toArray))
          .as("v"))
        .select(col("v.pieces"), col("v.n_pieces"), col("v.freq_sum"))
        .head()
      (r.getSeq[String](0), r.getLong(1), r.getLong(2))
    }
    // greedy longest-match takes ab+c (freq 2); the DP finds the equal-
    // length but higher-frequency a+bc — the case WordPiece gets wrong
    val v = Seq(("ab", 1L), ("bc", 100L), ("a", 100L), ("b", 5L), ("c", 1L))
    assert(seg("abc", v) == ((Seq("a", "bc"), 2L, 200L)))
    // fewest pieces dominates frequency: abc (1 piece, low freq) beats
    // a+bc (2 pieces, high freq)
    val v2 = v :+ ("abc", 1L)
    assert(seg("abc", v2) == ((Seq("abc"), 1L, 1L)))
    // out-of-vocabulary char: 1-char piece at frequency 0
    assert(seg("axc", v) == ((Seq("a", "x", "c"), 3L, 101L)))
    assert(seg("", v) == ((Seq.empty, 0L, 0L)))
  }

  test("property: viterbi_segment equals brute-force optimal segmentation") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    val alphabet = "abcd"
    def randWord(n: Int) =
      Seq.fill(n)(alphabet(rng.nextInt(4))).mkString
    // brute force: enumerate every segmentation (pieces in vocab, or
    // 1-char fallback at freq 0), minimize (n_pieces, -freq_sum)
    def brute(w: String, vocab: Map[String, Long],
        maxLen: Int): (Long, Long) = {
      if (w.isEmpty) return (0L, 0L)
      val opts = (1 to math.min(maxLen, w.length)).flatMap { l =>
        val p = w.substring(0, l)
        if (vocab.contains(p) || l == 1) {
          val (np, fs) = brute(w.substring(l), vocab, maxLen)
          Some((np + 1, fs + vocab.getOrElse(p, 0L)))
        } else None
      }
      opts.minBy { case (np, fs) => (np, -fs) }
    }
    for (trial <- 0 until 15) {
      val vocab = (0 until (3 + rng.nextInt(8))).map { _ =>
        randWord(1 + rng.nextInt(4)) -> (1L + rng.nextInt(100))
      }.toMap.toSeq
      val vmap = vocab.toMap
      val maxLen = vocab.map(_._1.length).max
      val words = (0 until 25).map(_ => randWord(1 + rng.nextInt(10)))
      val got = words.distinct.toDF("w")
        .select(col("w"), call_function("viterbi_segment", col("w"),
          lit(vocab.map(_._1).toArray), lit(vocab.map(_._2).toArray))
          .as("v"))
        .select(col("w"), col("v.n_pieces"), col("v.freq_sum"), col("v.pieces"))
        .collect()
      got.foreach { r =>
        val w = r.getString(0)
        val exp = brute(w, vmap, maxLen)
        assert((r.getLong(1), r.getLong(2)) == exp,
          s"trial $trial w=$w vocab=$vocab")
        // the reconstructed pieces re-concatenate to the word and score
        // what the DP claims
        val ps = r.getSeq[String](3)
        assert(ps.mkString == w)
        assert(ps.map(p => vmap.getOrElse(p, 0L)).sum == r.getLong(2))
      }
    }
  }

  test("char_gram_hashes equals the explode/substr/md5_prefix28 form exactly") {
    val s = spark
    graft.Graft.setup(s)
    val k = 5; val modP = 4
    val composable = docs
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("p"),
        col("text"))
      .select(col("doc_id"),
        call_function("md5_prefix28", expr(s"substr(text, p, $k)")).as("h"))
      .filter(pmod(col("h"), lit(modP.toLong)) === 0)
      .groupBy("doc_id").agg(sort_array(collect_list(col("h"))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def kernel() = docs
      .filter(length(col("text")) >= k)
      .select(col("doc_id"), call_function("char_gram_hashes",
        col("text"), lit(k), lit(modP)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    try {
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val gen = kernel()
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = kernel()
      assert(gen == interp)
      // docs long enough to have grams AND surviving samples must agree
      for ((d, hs) <- composable) assert(gen(d) == hs, s"doc $d")
      // short docs yield an empty array, not an error
      assert(gen.keySet.diff(composable.keySet)
        .forall(d => gen(d).isEmpty))
    } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("apply_bpe_table: ranked fast path is bit-identical to the sequential fold") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def toArrayData(xs: Seq[String]) =
      new GenericArrayData(xs.map(x => UTF8String.fromString(x): Any).toArray)
    // random CONSISTENT tables: each merge joins two tokens that already
    // exist (base chars or earlier outputs) — the shape every trained
    // table has
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      val base = Seq("a", "b", "c", "d", "e")
      val pool = scala.collection.mutable.ArrayBuffer(base: _*)
      val seen = scala.collection.mutable.Set(base: _*)
      // unique outputs, like a trained table: ("a","b c") and ("a b","c")
      // both output "a b c", and a reused output string legitimately
      // fails the consistency check (a pair ranked between the two
      // creations could re-form after the later one)
      val table = Iterator.continually {
        val wa = pool(rnd.nextInt(pool.size))
        val wb = pool(rnd.nextInt(pool.size))
        (wa, wb)
      }.filter { case (wa, wb) =>
        val fresh = seen.add(s"$wa $wb")
        if (fresh) pool += s"$wa $wb"
        fresh
      }.take(30).toSeq
      val was = table.map(_._1)
      val wbs = table.map(_._2)
      // the fast path must actually engage on a consistent table
      val ranked = TextKernels.rankedBpe(toArrayData(was), toArrayData(wbs))
      assert(ranked != null, s"trial $trial: consistent table not ranked")
      val words = (0 until 40).map(_ =>
        (0 until (1 + rnd.nextInt(12))).map(_ => base(rnd.nextInt(base.size))))
      for (w <- words) {
        val seqRes = TextKernels.applyMerges(toArrayData(w),
          toArrayData(was), toArrayData(wbs))
        val fastRes = ranked.apply(toArrayData(w))
        assert(seqRes.toSeq[UTF8String](org.apache.spark.sql.types.StringType) ==
          fastRes.toSeq[UTF8String](org.apache.spark.sql.types.StringType),
          s"trial $trial word ${w.mkString}")
      }
      // end-to-end through the expression (foldable literals -> ranked),
      // codegen and interpreted both
      val df = words.map(w => Tuple1(w)).toDF("ws")
      def run() = df.select(call_function("apply_bpe_table", col("ws"),
          lit(was.toArray), lit(wbs.toArray)))
        .collect().map(_.getSeq[String](0)).toSeq
      val expected = words.map(w =>
        TextKernels.applyMerges(toArrayData(w), toArrayData(was),
            toArrayData(wbs))
          .toSeq[UTF8String](org.apache.spark.sql.types.StringType)
          .map(_.toString))
      try {
        s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
        assert(run() == expected)
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        assert(run() == expected)
      } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // an INCONSISTENT table (pair uses a token a later rank creates) must
    // refuse the fast path and keep sequential semantics
    val incWas = Seq("a b", "a")
    val incWbs = Seq("c", "b")
    assert(TextKernels.rankedBpe(toArrayData(incWas),
      toArrayData(incWbs)) == null)
    val df = Seq(Tuple1(Seq("a", "b", "c"))).toDF("ws")
    val got = df.select(call_function("apply_bpe_table", col("ws"),
        lit(incWas.toArray), lit(incWbs.toArray)))
      .collect().map(_.getSeq[String](0)).head
    // sequential: rank 0 ("a b","c") absent first; rank 1 merges a,b ->
    // "a b"; the earlier rank is never revisited
    assert(got == Seq("a b", "c"))
  }

  test("wordpiece_doc_ids equals the flatten/transform HOF composition " +
      "exactly (including empty, whitespace-only and unicode docs)") {
    val vocab = lit(Array("the", "qu", "i", "c", "k", "a", "b", "e",
      "o", "n", "t", "w", "s", "ü", "ö", "é", "ß", "à", "î", "d"))
    val hof = docs.select(col("doc_id"),
      flatten(transform(call_function("split_words", col("text")),
        w => call_function("wordpiece_ids", w, vocab))).as("ids"))
      .orderBy("doc_id").collect().map(_.getSeq[Int](1))
    val fused = docs.select(col("doc_id"),
      call_function("wordpiece_doc_ids", col("text"), vocab).as("ids"))
      .orderBy("doc_id").collect().map(_.getSeq[Int](1))
    assert(hof.length == fused.length)
    hof.zip(fused).foreach { case (a, b) => assert(a == b) }
  }

  test("wordpiece_doc_ids: null text is null; null vocab literal is an " +
      "analysis error") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = d.select(call_function("wordpiece_doc_ids", col("text"),
      lit(Array("a")))).collect()
    assert(got.head.isNullAt(0))
    val e = intercept[Exception] {
      docs.select(call_function("wordpiece_doc_ids", col("text"),
        lit(null).cast("array<string>"))).collect()
    }
    assert(e.getMessage.contains("must not be null"), e.getMessage)
  }

  test("term_tfs equals the split_words reference count, codegen == interpreted") {
    val s = spark
    import s.implicits._
    val terms = Array("the", "quick", "zzz_absent")
    // reference: dl + per-term counts from the token array the kernel
    // must reproduce in one pass
    def ref() = docs.select(call_function("split_words", col("text")))
      .collect().map { r =>
        val ws = r.getSeq[String](0)
        (ws.length.toLong +: terms.map(t => ws.count(_ == t).toLong)).toSeq
      }
    def got() = docs
      .select(call_function("term_tfs", col("text"), lit(terms)))
      .collect().map(_.getSeq[Long](0))
    try {
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = got()
      assert(interp.map(_.toSeq).toSeq == ref().toSeq)
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      assert(got().map(_.toSeq).toSeq == interp.map(_.toSeq).toSeq)
    } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    // null text → null; non-foldable / null terms → analysis error
    val nullRow = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(call_function("term_tfs", col("text"), lit(Array("a"))))
      .collect()
    assert(nullRow.head.isNullAt(0))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      docs.select(call_function("term_tfs", col("text"),
        lit(null).cast("array<string>"))).collect()
    }
    assert(e.getMessage.contains("must not be null"), e.getMessage)
  }

  test("codegen and interpreted evaluation agree") {
    val s = spark
    try {
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = docs.select(call_function("word_ngrams", col("text"), lit(3)))
        .collect().map(_.getSeq[String](0))
      val interpH = docs.select(call_function("ngram_hashes", col("text"), lit(3)))
        .collect().map(_.getSeq[Long](0))
      val wpVocab = lit(Array("th", "e", "qu", "i", "c", "k"))
      // get(): an empty doc's word array has no element 0 — NULL, not
      // an ANSI index error
      def wp() = docs
        .select(call_function("wordpiece",
          get(call_function("split_words", col("text")), lit(0)), wpVocab))
        .collect().map(_.getSeq[String](0))
      def wpi() = docs
        .select(call_function("wordpiece_ids",
          get(call_function("split_words", col("text")), lit(0)), wpVocab))
        .collect().map(_.getSeq[Int](0))
      def wpd() = docs
        .select(call_function("wordpiece_doc_ids", col("text"), wpVocab))
        .collect().map(_.getSeq[Int](0))
      def cn() = docs
        .select(call_function("char_ngrams",
          get(call_function("split_words", col("text")), lit(0)), lit(3)))
        .collect().map(_.getSeq[String](0))
      def vs() = docs
        .select(call_function("viterbi_segment",
          get(call_function("split_words", col("text")), lit(0)),
          lit(Array("th", "e", "qu", "i", "c", "k")),
          lit(Array(5L, 4L, 3L, 2L, 1L, 1L))).as("v"))
        .select(col("v.n_pieces"), col("v.freq_sum"))
        .collect().map(r =>
          if (r.isNullAt(0)) null else (r.getLong(0), r.getLong(1)))
      val (interpWp, interpCn, interpVs) = (wp(), cn(), vs())
      val interpWpi = wpi()
      val interpWpd = wpd()
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val gen = docs.select(call_function("word_ngrams", col("text"), lit(3)))
        .collect().map(_.getSeq[String](0))
      val genH = docs.select(call_function("ngram_hashes", col("text"), lit(3)))
        .collect().map(_.getSeq[Long](0))
      assert(interp.zip(gen).forall { case (a, b) => a == b })
      assert(interpH.zip(genH).forall { case (a, b) => a == b })
      assert(interpWp.zip(wp()).forall { case (a, b) => a == b })
      assert(interpWpi.zip(wpi()).forall { case (a, b) => a == b })
      assert(interpWpd.zip(wpd()).forall { case (a, b) => a == b })
      assert(interpCn.zip(cn()).forall { case (a, b) => a == b })
      assert(interpVs.zip(vs()).forall { case (a, b) => a == b })
    } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }
}
