package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenization kernels for the text/similarity family (x2-x4, x8
  * shingles; x3 words).
  *
  * The composable form — `filter(split(lower(t), "\\s+"), len > 0)` then
  * `transform(sequence(...), i => concat_ws(" ", slice(ws, i+1, n)))` —
  * stacks three interpreted higher-order-function lambdas and allocates an
  * intermediate array per level, per document. These kernels produce the
  * SAME strings (same lowercase, same `\s+` regex split, same " " joins —
  * the DuckDB-oracle contract) in one pass per document inside
  * whole-stage codegen.
  */
/** Rank-indexed merge table: [[apply]] encodes one symbol sequence by
  * repeatedly merging the LOWEST-RANK adjacent pair present — the
  * production BPE serving algorithm (Sennrich et al. 2016 §3; per-word
  * cost O(|word|²) hash probes, INDEPENDENT of table size) versus the
  * sequential fold's O(n_merges · |word|), which at a real 32k-merge
  * vocabulary is ~3000× more work per word.
  *
  * Only constructed for CONSISTENT tables ([[TextKernels.rankedBpe]]
  * verifies: every pair refers only to tokens created at strictly
  * earlier ranks, or base tokens), where min-rank-first is provably
  * bit-identical to table-order application: with ranks < r absent, a
  * rank-r pass only creates pairs involving its output token, whose
  * table ranks are all > r by consistency — so no lower rank ever
  * reappears, which is exactly the invariant the sequential fold leaves
  * behind after step r. */
final class RankedBpe(
    ranks: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, Integer]],
    was: Array[UTF8String], wbs: Array[UTF8String]) extends Serializable {
  def apply(arr: ArrayData): ArrayData = {
    var cur = arr
    var done = false
    while (!done) {
      val n = cur.numElements()
      var best = Int.MaxValue
      var i = 0
      while (i + 1 < n) {
        val inner = ranks.get(cur.getUTF8String(i))
        if (inner != null) {
          val r = inner.get(cur.getUTF8String(i + 1))
          if (r != null && r.intValue() < best) best = r.intValue()
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else cur = TextKernels.mergePair(cur, was(best), wbs(best))
    }
    cur
  }
}

object TextKernels {

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** lower(s) split on `\s+` with empties dropped — bit-identical to
    * `filter(split(lower(t), "\\s+"), w => length(w) > 0)`. */
  def splitWords(s: UTF8String): Array[String] = {
    // UTF8String.toLowerCase (Spark's Lower) — locale-independent; the
    // regex split then matches Spark's StringSplit semantics (limit -1)
    val parts = Whitespace.split(s.toLowerCase.toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) n += 1; i += 1 }
    if (n == parts.length) parts
    else {
      val out = new Array[String](n)
      var j = 0
      i = 0
      while (i < parts.length) {
        if (parts(i).nonEmpty) { out(j) = parts(i); j += 1 }
        i += 1
      }
      out
    }
  }

  def splitWordsArray(s: UTF8String): ArrayData =
    new GenericArrayData(
      splitWords(s).map(w => UTF8String.fromString(w): Any))

  /** Doc length + per-term term frequencies in ONE tokenize pass:
    * `[dl, tf(terms(0)), …, tf(terms(k-1))]`. Tokenization is
    * [[splitWords]] (bit-identical to split_words), term match is plain
    * string equality on the lowercased tokens — exactly what
    * `explode(split_words(text))` + `isin(terms)` + count produced,
    * without materializing a row (or even a UTF8String array element)
    * per token. Query-term bags are small, so the per-token probe is a
    * linear scan. */
  def termTfs(s: UTF8String, terms: Array[String]): ArrayData = {
    val ws = splitWords(s)
    val out = new Array[Long](terms.length + 1)
    out(0) = ws.length.toLong
    var i = 0
    while (i < ws.length) {
      var j = 0
      while (j < terms.length) {
        if (terms(j) == ws(i)) out(j + 1) += 1L
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word n-gram shingles joined with " ". Documents with fewer than `n`
    * words yield ONE shingle: all words joined (possibly the empty string
    * for an empty document) — the reference contract of
    * SimilarityQueries.shinglesOf / the oracle's `CASE WHEN len(ws) < n`. */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val ws = splitWords(s)
    if (ws.length < n)
      new GenericArrayData(Array[Any](UTF8String.fromString(ws.mkString(" "))))
    else {
      val out = new Array[Any](ws.length - n + 1)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i + n <= ws.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(ws(i + j))
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** One greedy left-to-right non-overlapping BPE merge of the adjacent
    * pair (wa, wb) — the merged symbol is `wa + " " + wb`. Same
    * semantics as the (out, pending) fold the d32 oracle replays
    * relationally, in one array pass inside whole-stage codegen (the
    * interpreted `aggregate` HOF version cost ~3× the whole query). */
  def mergePair(arr: ArrayData, wa: UTF8String, wb: UTF8String): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return arr
    val merged = UTF8String.concat(wa, UTF8String.fromString(" "), wb)
    val tmp = new Array[Any](n)
    var i = 0
    var j = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < n && cur.equals(wa) && arr.getUTF8String(i + 1).equals(wb)) {
        tmp(j) = merged; j += 1; i += 2
      } else {
        tmp(j) = cur; j += 1; i += 1
      }
    }
    if (j == n) new GenericArrayData(tmp)
    else new GenericArrayData(
      java.util.Arrays.copyOf(tmp.asInstanceOf[Array[AnyRef]], j))
  }

  /** All adjacent (wa, wb) symbol pairs of a token array — the BPE
    * trainer's per-round counting input, one pass in whole-stage codegen
    * (the indexed-transform + named_struct HOF form ran interpreted). */
  /** All character n-grams (lengths 1..maxN, every start position) of
    * one token — the candidate-piece harvest of WordPiece-style
    * vocabulary construction. Code-point positions (UTF8String
    * substring), matching SQL `substr` semantics. */
  def charNgrams(w: UTF8String, maxN: Int): ArrayData = {
    val n = w.numChars()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val out = new java.util.ArrayList[Any](n * maxN)
    var i = 0
    while (i < n) {
      var l = 1
      val lim = math.min(maxN, n - i)
      while (l <= lim) {
        out.add(w.substring(i, i + l))
        l += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Greedy longest-match tokenization of one word against a vocabulary
    * set (the BERT WordPiece SERVING algorithm, Wu et al. 2016 §4.1 /
    * Devlin et al. 2019): at each position take the longest vocab piece
    * that prefixes the remaining suffix; an unmatched character emits
    * itself (never diverges/loops on out-of-vocabulary text). */
  def wordpiece(w: UTF8String,
      vocab: java.util.HashSet[UTF8String], maxLen: Int): ArrayData = {
    val n = w.numChars()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val out = new java.util.ArrayList[Any](n)
    var pos = 0
    while (pos < n) {
      var l = math.min(maxLen, n - pos)
      var emitted = false
      while (l >= 1 && !emitted) {
        val cand = w.substring(pos, pos + l)
        if (vocab.contains(cand)) {
          out.add(cand); pos += l; emitted = true
        } else l -= 1
      }
      if (!emitted) { out.add(w.substring(pos, pos + 1)); pos += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  /** Sampled character-k-gram fingerprint hashes of one document — all
    * positions' `md5Prefix28(substr(s, pos, k))` with only `h % modP
    * == 0` kept (the winnowing-style 1/modP sample), in ONE kernel
    * call. The composable form (`explode(sequence(...))` then
    * `md5_prefix28(substr(text, pos, k))`) copies the WHOLE document
    * text into every exploded row before the projection trims it —
    * O(len²) bytes through the exchange-free pipeline; this emits the
    * surviving longs directly. Bit-identical to the SQL form (same
    * substring, same 28-bit md5 prefix), so the DuckDB oracle is
    * unchanged. */
  def charGramHashes(s: UTF8String, k: Int, modP: Int): ArrayData = {
    require(k >= 1 && modP >= 1,
      s"char_gram_hashes: k and modP must be >= 1, got ($k, $modP)")
    val n = s.numChars()
    if (n < k) return new GenericArrayData(new Array[Long](0))
    // md5 of substr(s, pos, k) == md5 over the substring's CONTIGUOUS
    // byte range in the original buffer, so the whole position sweep
    // digests straight from one byte array with two sliding byte
    // cursors — no per-position UTF8String/byte[] allocation. The old
    // substring-per-position form allocated 3 objects per char of every
    // document (measured: this loop is the x13 wall-clock floor).
    val bytes = s.getBytes
    val d = PortableHash.threadDigest()
    val buf = new Array[Byte](16)
    var startB = 0
    var endB = 0
    var i = 0
    while (i < k) { // byte offset of char k
      endB += UTF8String.numBytesForFirstByte(bytes(endB))
      i += 1
    }
    val out = new java.util.ArrayList[Any](n / modP + 8)
    var pos = 0
    while (pos + k <= n) {
      d.update(bytes, startB, endB - startB)
      d.digest(buf, 0, 16): Unit
      val h = ((buf(0) & 0xffL) << 20) | ((buf(1) & 0xffL) << 12) |
        ((buf(2) & 0xffL) << 4) | ((buf(3) & 0xf0L) >>> 4)
      if (h % modP == 0) out.add(java.lang.Long.valueOf(h))
      if (pos + k < n)
        endB += UTF8String.numBytesForFirstByte(bytes(endB))
      startB += UTF8String.numBytesForFirstByte(bytes(startB))
      pos += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** [[wordpiece]] emitting vocabulary IDS (the model-input encoding):
    * identical greedy longest-match walk, each emitted piece mapped to
    * its index in the caller's vocabulary array; an out-of-vocabulary
    * single character (the only possible OOV emission) encodes as -1. */
  /** The greedy longest-match id loop of [[wordpieceIds]], appending to
    * a caller-owned buffer so the whole-document kernel reuses it
    * without per-word array churn. */
  private def appendWordpieceIds(w: UTF8String,
      ids: java.util.HashMap[UTF8String, Integer], maxLen: Int,
      out: java.util.ArrayList[Integer]): Unit = {
    val n = w.numChars()
    var pos = 0
    while (pos < n) {
      var l = math.min(maxLen, n - pos)
      var emitted = false
      while (l >= 1 && !emitted) {
        val id = ids.get(w.substring(pos, pos + l))
        if (id != null) {
          out.add(id): Unit; pos += l; emitted = true
        } else l -= 1
      }
      if (!emitted) { out.add(Integer.valueOf(-1)): Unit; pos += 1 }
    }
  }

  private def packIds(out: java.util.ArrayList[Integer]): ArrayData = {
    val arr = new Array[Int](out.size())
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i).intValue(); i += 1 }
    new GenericArrayData(arr)
  }

  def wordpieceIds(w: UTF8String,
      ids: java.util.HashMap[UTF8String, Integer], maxLen: Int): ArrayData = {
    val n = w.numChars()
    if (n == 0) return new GenericArrayData(new Array[Int](0))
    val out = new java.util.ArrayList[Integer](n)
    appendWordpieceIds(w, ids, maxLen, out)
    packIds(out)
  }

  /** Whole-DOCUMENT WordPiece-to-ids encode: split to words
    * ([[splitWords]]' exact semantics) and greedy-encode each, ids
    * concatenated in word order — bit-identical to
    * `flatten(transform(split_words(text), w → wordpiece_ids(w, v)))`
    * (spec-held), but ONE codegen kernel call per document instead of a
    * higher-order-function lambda whose inner expression Spark
    * evaluates on the interpreted path once per word — on the
    * model-input encode of a 100 TB corpus, that per-element
    * interpreted dispatch is the hot loop. */
  def wordpieceDocIds(text: UTF8String,
      ids: java.util.HashMap[UTF8String, Integer], maxLen: Int): ArrayData = {
    val ws = splitWords(text)
    if (ws.length == 0) return new GenericArrayData(new Array[Int](0))
    val out = new java.util.ArrayList[Integer](math.max(16, text.numChars()))
    var i = 0
    while (i < ws.length) {
      appendWordpieceIds(UTF8String.fromString(ws(i)), ids, maxLen, out)
      i += 1
    }
    packIds(out)
  }

  /** Optimal (Viterbi) segmentation of one word against a frequency-
    * weighted vocabulary — the unigram-LM serving shape (Kudo 2018's
    * decode step with integer scores): among all segmentations into
    * vocab pieces, pick the one with the FEWEST pieces, ties broken by
    * the LARGEST total piece frequency (then deterministic smaller-
    * final-piece). Contrast with [[wordpiece]]: greedy longest-match is
    * O(n) but suboptimal ("abca" → abc+a even when ab+ca scores
    * higher); this DP is O(n · maxLen) and exact. An out-of-vocabulary
    * character contributes a 1-char piece at frequency 0.
    * Returns (pieces, n_pieces, freq_sum). */
  def viterbiSegment(w: UTF8String,
      freqs: java.util.HashMap[UTF8String, java.lang.Long],
      maxLen: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = w.numChars()
    val empty = new GenericArrayData(new Array[Any](0))
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](empty, 0L, 0L))
    val bestNp = Array.fill(n + 1)(Int.MaxValue)
    val bestFs = Array.fill(n + 1)(Long.MinValue)
    val back = Array.fill(n + 1)(-1)
    bestNp(0) = 0; bestFs(0) = 0L
    var k = 1
    while (k <= n) {
      var l = 1
      val lim = math.min(maxLen, k)
      while (l <= lim) {
        if (bestNp(k - l) != Int.MaxValue) {
          val piece = w.substring(k - l, k)
          val f = freqs.get(piece)
          if (f != null || l == 1) {
            val np = bestNp(k - l) + 1
            val fs = bestFs(k - l) + (if (f == null) 0L else f.longValue())
            if (np < bestNp(k) || (np == bestNp(k) && fs > bestFs(k))) {
              bestNp(k) = np; bestFs(k) = fs; back(k) = k - l
            }
          }
        }
        l += 1
      }
      k += 1
    }
    val pieces = new java.util.ArrayList[Any]()
    var pos = n
    while (pos > 0) { pieces.add(0, w.substring(back(pos), pos)); pos = back(pos) }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(pieces.toArray),
        bestNp(n).toLong, bestFs(n)))
  }

  /** Build a [[RankedBpe]] for a merge table, or null when the table is
    * INCONSISTENT (some pair references a token that a same-or-later
    * rank creates — only possible in hand-built tables; every trained
    * table is consistent) and the caller must keep the sequential fold
    * to preserve its exact semantics. */
  def rankedBpe(was: ArrayData, wbs: ArrayData): RankedBpe = {
    val n = was.numElements()
    val space = UTF8String.fromString(" ")
    // max rank at which each output token string is (re)created
    val createdMax = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      createdMax.put(UTF8String.concat(was.getUTF8String(i), space,
        wbs.getUTF8String(i)).clone(), Integer.valueOf(i))
      i += 1
    }
    val ranks =
      new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, Integer]](n * 2)
    val wasArr = new Array[UTF8String](n)
    val wbsArr = new Array[UTF8String](n)
    i = 0
    while (i < n) {
      val wa = was.getUTF8String(i).clone()
      val wb = wbs.getUTF8String(i).clone()
      val ca = createdMax.get(wa)
      val cb = createdMax.get(wb)
      if ((ca != null && ca.intValue() >= i) ||
          (cb != null && cb.intValue() >= i)) return null
      wasArr(i) = wa
      wbsArr(i) = wb
      var inner = ranks.get(wa)
      if (inner == null) {
        inner = new java.util.HashMap[UTF8String, Integer](4)
        ranks.put(wa, inner)
      }
      // first occurrence wins (a duplicate pair is a no-op in both modes)
      if (inner.get(wb) == null) inner.put(wb, Integer.valueOf(i))
      i += 1
    }
    new RankedBpe(ranks, wasArr, wbsArr)
  }

  /** Sequential application of a WHOLE merge table — semantically the
    * left fold of [[mergePair]] over (wa_i, wb_i) in table order, as ONE
    * kernel call. The serving-scale point: a real trained vocabulary is
    * 10k-50k merges, and folding that many `merge_pair` Expressions
    * builds a 10k-node plan whose generated code blows Janino's method
    * limits; here the table rides as two array literals (constant-size
    * plan at any vocab size) and the loop runs in JVM code. This form
    * is the per-row-table / inconsistent-table fallback; a FOLDABLE
    * consistent table dispatches to [[RankedBpe]] instead (same result,
    * table-size-independent per-row cost). */
  def applyMerges(arr: ArrayData, was: ArrayData, wbs: ArrayData): ArrayData = {
    var cur = arr
    val n = was.numElements()
    var i = 0
    while (i < n) {
      cur = mergePair(cur, was.getUTF8String(i), wbs.getUTF8String(i))
      i += 1
    }
    cur
  }

  def adjacentPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        arr.getUTF8String(i), arr.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  private final val NgramB = 0x9E3779B97F4A7C15L // odd ⇒ invertible mod 2^64

  /** 64-bit hashes of word n-gram shingles WITHOUT materializing gram
    * strings: each word is FNV-1a hashed once, then gram p combines words
    * p..p+n-1 as a base-B polynomial in the 2^64 wrap ring, advanced by a
    * rolling update — O(words) total versus O(words·n) bytes of gram-string
    * allocation for `md5(word_ngrams(...))`. B odd keeps per-position word
    * differences invertible (two grams collide only with birthday odds
    * ~2^-64 per pair). Same short-document contract as [[wordNgrams]]:
    * fewer than n words yield ONE hash over all words. A dup-DECISION key
    * only — not portable across engines, which is fine exactly when every
    * gram participates (no hash-derived sampling for an oracle to replay)
    * and the oracle checks the downstream result, not the key. */
  def ngramHashes(s: UTF8String, n: Int): ArrayData = {
    val ws = splitWords(s)
    def wordHash(w: String): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < w.length) { h ^= w.charAt(i); h *= 0x100000001b3L; i += 1 }
      h
    }
    if (ws.length < n) {
      var g = 0L
      var j = 0
      while (j < ws.length) { g = g * NgramB + wordHash(ws(j)); j += 1 }
      new GenericArrayData(Array[Any](g))
    } else {
      val wh = new Array[Long](ws.length)
      var i = 0
      while (i < ws.length) { wh(i) = wordHash(ws(i)); i += 1 }
      var bp = 1L // B^(n-1), the weight the departing word carried
      var k = 0
      while (k < n - 1) { bp *= NgramB; k += 1 }
      val out = new Array[Any](ws.length - n + 1)
      var g = 0L
      var j = 0
      while (j < n) { g = g * NgramB + wh(j); j += 1 }
      out(0) = g
      var p = 1
      while (p + n <= ws.length) {
        g = (g - wh(p - 1) * bp) * NgramB + wh(p + n - 1)
        out(p) = g
        p += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** viterbi_segment(w, pieces, freqs) — optimal unigram-style
  * segmentation against a FOLDABLE frequency-weighted vocabulary
  * ([[TextKernels.viterbiSegment]]): two aligned literal arrays fold
  * once into a hash map riding into codegen as a reference object, the
  * DP runs per row in O(|word| · maxLen). Output struct:
  * (pieces array<string>, n_pieces, freq_sum). */
case class ViterbiSegmentExpr(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("pieces", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("n_pieces", LongType, nullable = false),
    StructField("freq_sum", LongType, nullable = false)))
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, ArrayType(StringType, _), ArrayType(LongType, _))
          if second.foldable && third.foldable =>
        // a typed NULL literal passes the shape match but would NPE at
        // first eval — turn it into an analysis-time error instead
        if (second.eval() == null || third.eval() == null)
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "vocabulary/frequency literal must not be null")
        else
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (StringType, ArrayType(StringType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "vocabulary arrays must be literal (foldable)")
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arguments must be (string, array<string> literal, " +
            s"array<bigint> literal), got (${first.dataType.simpleString}, " +
            s"${second.dataType.simpleString}, ${third.dataType.simpleString})")
    }
  @transient private lazy val freqMap: java.util.HashMap[UTF8String, java.lang.Long] = {
    val ps = second.eval().asInstanceOf[ArrayData]
    val fs = third.eval().asInstanceOf[ArrayData]
    require(ps.numElements() == fs.numElements(),
      s"viterbi_segment: ${ps.numElements()} pieces vs " +
        s"${fs.numElements()} freqs")
    val m = new java.util.HashMap[UTF8String, java.lang.Long](
      ps.numElements() * 2)
    var i = 0
    while (i < ps.numElements()) {
      m.put(ps.getUTF8String(i).clone(),
        java.lang.Long.valueOf(fs.getLong(i)))
      i += 1
    }
    m
  }
  @transient private lazy val maxLen: Int = {
    var m = 1
    val it = freqMap.keySet().iterator()
    while (it.hasNext) m = math.max(m, it.next().numChars())
    m
  }
  override def nullable: Boolean = first.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val w = first.eval(input)
    if (w == null) null
    else TextKernels.viterbiSegment(w.asInstanceOf[UTF8String], freqMap,
      maxLen)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("vitFreqs", freqMap,
      "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String," +
        "java.lang.Long>")
    val wCode = first.genCode(ctx)
    val code =
      code"""
        ${wCode.code}
        boolean ${ev.isNull} = ${wCode.isNull};
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.TextKernels.viterbiSegment(
            ${wCode.value}, $mapRef, $maxLen);
        }"""
    ev.copy(code = code)
  }
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** char_ngrams(w, maxN) — all substrings of lengths 1..maxN
  * ([[TextKernels.charNgrams]]). */
case class CharNgramsExpr(first: Expression, second: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (StringType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arguments must be (string, int), got " +
            s"(${first.dataType.simpleString}, ${second.dataType.simpleString})")
    }
  override protected def nullSafeEval(w: Any, n: Any): Any =
    TextKernels.charNgrams(w.asInstanceOf[UTF8String],
      n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, n) =>
      s"graft.functions.TextKernels.charNgrams($w, $n)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

/** The shared machinery of the (string, FOLDABLE array<string> vocab)
  * kernel expressions — one copy of the analysis-time checks (shape,
  * literal-ness, the typed-NULL probe), the fold-once vocabulary
  * structures, and the addReferenceObj codegen template, so a fix to
  * any of them lands in every vocabulary expression at once. The vocab
  * child is evaluated ONCE into a hash structure (plus the max piece
  * length) that rides into codegen as a reference object — per-row
  * work is O(|word| · maxLen) probes, independent of vocabulary size,
  * and plan size is constant at any vocab size. */
trait FoldableVocabExpression
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  def first: Expression
  def second: Expression
  override def left: Expression = first
  override def right: Expression = second
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (StringType, ArrayType(StringType, _)) if second.foldable =>
        // a typed NULL literal passes the shape match but would NPE at
        // first eval — turn it into an analysis-time error instead
        if (second.eval() == null)
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "vocabulary literal must not be null")
        else
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (StringType, ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "vocabulary must be a literal (foldable) array")
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arguments must be (string, array<string> literal), got " +
            s"(${first.dataType.simpleString}, ${second.dataType.simpleString})")
    }
  /** piece → its FIRST index in the vocab array (the token id). */
  @transient protected lazy val idMap: java.util.HashMap[UTF8String, Integer] = {
    val ad = second.eval().asInstanceOf[ArrayData]
    val m = new java.util.HashMap[UTF8String, Integer](ad.numElements() * 2)
    var i = 0
    while (i < ad.numElements()) {
      // clone: the source ArrayData may be backed by reused buffers
      m.putIfAbsent(ad.getUTF8String(i).clone(), Integer.valueOf(i)): Unit
      i += 1
    }
    m
  }
  @transient protected lazy val maxLen: Int = {
    var m = 1
    val it = idMap.keySet().iterator()
    while (it.hasNext) m = math.max(m, it.next().numChars())
    m
  }
  /** The fold-once object codegen references, its java type, and the
    * kernel: eval and the generated source MUST call the same static
    * method (the codegen==interpreted specs hold each pair equal). */
  protected def refObj: AnyRef
  protected def refJavaType: String
  protected def kernelEval(w: UTF8String): Any
  protected def kernelJava(w: String, ref: String): String
  override def nullable: Boolean = first.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val w = first.eval(input)
    if (w == null) null else kernelEval(w.asInstanceOf[UTF8String])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocabRef", refObj, refJavaType)
    val wCode = first.genCode(ctx)
    val code =
      code"""
        ${wCode.code}
        boolean ${ev.isNull} = ${wCode.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = ${kernelJava(wCode.value.toString, ref)};
        }"""
    ev.copy(code = code)
  }
}

/** wordpiece(w, vocab) — greedy longest-match tokenization against a
  * FOLDABLE vocabulary array ([[TextKernels.wordpiece]]). */
case class WordpieceExpr(first: Expression, second: Expression)
    extends FoldableVocabExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val vocabSet: java.util.HashSet[UTF8String] =
    new java.util.HashSet[UTF8String](idMap.keySet())
  override protected def refObj: AnyRef = vocabSet
  override protected def refJavaType: String =
    "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>"
  override protected def kernelEval(w: UTF8String): Any =
    TextKernels.wordpiece(w, vocabSet, maxLen)
  override protected def kernelJava(w: String, ref: String): String =
    s"graft.functions.TextKernels.wordpiece($w, $ref, $maxLen)"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

/** char_gram_hashes(s, k, modP) — sampled character-k-gram fingerprint
  * hashes ([[TextKernels.charGramHashes]]); the x13 substring-dedup hot
  * path in one codegen node. */
case class CharGramHashesExpr(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arguments must be (string, int, int), got " +
            s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
            s"${third.dataType.simpleString})")
    }
  override protected def nullSafeEval(s: Any, k: Any, m: Any): Any =
    TextKernels.charGramHashes(s.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], m.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, k, m) =>
      s"graft.functions.TextKernels.charGramHashes($s, $k, $m)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** wordpiece_ids(w, vocab) — [[WordpieceExpr]]'s greedy longest-match
  * walk emitting vocabulary IDS (array<int>): piece id = its index in
  * the FOLDABLE vocab array (first occurrence wins on duplicates), an
  * out-of-vocabulary character emits -1. The model-input encoding step:
  * downstream packing ([[graft.operators.CorpusOps.packTokenIds]])
  * consumes these arrays directly. */
case class WordpieceIdsExpr(first: Expression, second: Expression)
    extends FoldableVocabExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def refObj: AnyRef = idMap
  override protected def refJavaType: String =
    "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String," +
      "java.lang.Integer>"
  override protected def kernelEval(w: UTF8String): Any =
    TextKernels.wordpieceIds(w, idMap, maxLen)
  override protected def kernelJava(w: String, ref: String): String =
    s"graft.functions.TextKernels.wordpieceIds($w, $ref, $maxLen)"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

/** wordpiece_doc_ids(text, vocab) — the whole-DOCUMENT encode:
  * [[TextKernels.wordpieceDocIds]] splits to words and greedy-encodes
  * each in one kernel call, bit-identical to
  * `flatten(transform(split_words(text), w → wordpiece_ids(w, v)))`
  * but without the higher-order-function lambda whose inner expression
  * Spark evaluates on the interpreted path once per word — the form
  * [[graft.operators.CorpusOps.encodeIds]] puts on the model-input hot
  * path. */
case class WordpieceDocIdsExpr(first: Expression, second: Expression)
    extends FoldableVocabExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def refObj: AnyRef = idMap
  override protected def refJavaType: String =
    "java.util.HashMap<org.apache.spark.unsafe.types.UTF8String," +
      "java.lang.Integer>"
  override protected def kernelEval(w: UTF8String): Any =
    TextKernels.wordpieceDocIds(w, idMap, maxLen)
  override protected def kernelJava(w: String, ref: String): String =
    s"graft.functions.TextKernels.wordpieceDocIds($w, $ref, $maxLen)"
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}


/** apply_bpe_table(ws, was, wbs) — a trained merge TABLE applied in
  * order ([[TextKernels.applyMerges]]): identical results to folding
  * `merge_pair` per merge, but the plan holds two array literals instead
  * of one expression node per merge — the only codegen-viable shape at
  * real (10k-50k merge) vocabulary sizes. A foldable consistent table
  * additionally dispatches per row to the rank-indexed encoder
  * ([[RankedBpe]] — per-word cost independent of table size, the
  * PLANS.md "Vocabulary-size scaling"); inconsistent or per-row tables
  * keep the sequential fold bit-for-bit. */
case class ApplyBpeTableExpr(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _),
          ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arguments must be (array<string>, array<string>, array<string>)," +
            s" got (${first.dataType.simpleString}, " +
            s"${second.dataType.simpleString}, ${third.dataType.simpleString})")
    }
  /** Rank-indexed table, or null when either merge array is non-foldable
    * (per-row tables), a foldable one is NULL (the expression then
    * null-propagates per row), or the table is inconsistent. */
  @transient private lazy val ranked: RankedBpe =
    if (!(second.foldable && third.foldable)) null
    else {
      val was = second.eval().asInstanceOf[ArrayData]
      val wbs = third.eval().asInstanceOf[ArrayData]
      if (was == null || wbs == null || was.numElements() != wbs.numElements())
        null
      else TextKernels.rankedBpe(was, wbs)
    }
  override protected def nullSafeEval(ws: Any, was: Any, wbs: Any): Any =
    if (ranked != null) ranked.apply(ws.asInstanceOf[ArrayData])
    else TextKernels.applyMerges(ws.asInstanceOf[ArrayData],
      was.asInstanceOf[ArrayData], wbs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (ranked != null) {
      val refName = ctx.addReferenceObj("rankedBpe", ranked,
        "graft.functions.RankedBpe")
      defineCodeGen(ctx, ev, (ws, _, _) => s"$refName.apply($ws)")
    } else defineCodeGen(ctx, ev, (ws, was, wbs) =>
      s"graft.functions.TextKernels.applyMerges($ws, $was, $wbs)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** adjacent_pairs(ws) — every adjacent (wa, wb) pair of a string array
  * as array<struct<wa, wb>> ([[TextKernels.adjacentPairs]]). */
case class AdjacentPairsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("wa", StringType, nullable = false),
      StructField("wb", StringType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argument must be array<string>, got ${other.simpleString}")
    }
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.adjacentPairs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.adjacentPairs($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SplitWordsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argument must be string, got ${other.simpleString}")
    }
  override protected def nullSafeEval(input: Any): Any =
    TextKernels.splitWordsArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.splitWordsArray($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** term_tfs(text, terms) — `[dl, tf(terms(0)), …]` in one tokenize pass
  * ([[TextKernels.termTfs]]); terms must be a non-null foldable
  * array<string>. */
case class TermTfsExpr(first: Expression, second: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = first
  override def right: Expression = second
  override def prettyName: String = "term_tfs"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (StringType, ArrayType(StringType, _)) if second.foldable =>
        if (second.eval() == null)
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "terms literal must not be null")
        else
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (StringType, ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "terms must be a literal (foldable) array<string>")
      case (other, other2) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arguments must be (string, array<string> literal), got " +
            s"(${other.simpleString}, ${other2.simpleString})")
    }
  @transient private lazy val terms: Array[String] = {
    val arr = second.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getUTF8String(i).toString)
  }
  override def nullable: Boolean = first.nullable
  override protected def nullSafeEval(input: Any, t: Any): Any =
    TextKernels.termTfs(input.asInstanceOf[UTF8String], terms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("termTfsTerms", terms,
      "java.lang.String[]")
    val sCode = first.genCode(ctx)
    val code =
      code"""
        ${sCode.code}
        boolean ${ev.isNull} = ${sCode.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.TextKernels.termTfs(
            ${sCode.value}, $termsRef);
        }"""
    ev.copy(code = code)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

/** word_ngrams(text, n) — n must be a foldable positive integer. */
case class WordNgramsExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private lazy val n: Int = {
    val v = right.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"word_ngrams: n must be a literal integer, got $other")
    }
    require(v >= 1, s"word_ngrams: n must be >= 1, got $v")
    v
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // validate the foldable n eagerly so a bad literal (null, 0, negative)
  // is an analysis-time TypeCheckFailure, not an executor-side crash on
  // first eval — matching how built-ins report bad foldable args
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.foldable, right.dataType) match {
      case (StringType, true, IntegerType | LongType) =>
        right.eval(null) match {
          case null =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
              "n must not be null")
          case i: Int if i < 1 =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
              s"n must be >= 1, got $i")
          case l: Long if l < 1 =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
              s"n must be >= 1, got $l")
          case _ =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        }
      case (StringType, _, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "n must be an integer literal")
      case (other, _, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argument must be string, got ${other.simpleString}")
    }
  override protected def nullSafeEval(input: Any, nv: Any): Any =
    TextKernels.wordNgrams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, _) =>
      s"graft.functions.TextKernels.wordNgrams($c, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ngram_hashes(text, n) — 64-bit rolling hashes of word n-grams in one
  * kernel pass ([[TextKernels.ngramHashes]]); n must be a foldable
  * positive integer. */
case class NgramHashesExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private lazy val n: Int = right.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"ngram_hashes: n must be a literal integer, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.foldable, right.dataType) match {
      case (StringType, true, IntegerType | LongType) =>
        right.eval(null) match {
          case null =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
              "n must not be null")
          case i: Int if i < 1 =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
              s"n must be >= 1, got $i")
          case l: Long if l < 1 =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
              s"n must be >= 1, got $l")
          case _ =>
            org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        }
      case (StringType, _, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "n must be an integer literal")
      case (other, _, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argument must be string, got ${other.simpleString}")
    }
  override protected def nullSafeEval(input: Any, nv: Any): Any =
    TextKernels.ngramHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, _) =>
      s"graft.functions.TextKernels.ngramHashes($c, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** merge_pair(ws, wa, wb) — one greedy left-to-right non-overlapping BPE
  * merge of the adjacent pair (wa, wb) in a string array
  * ([[TextKernels.mergePair]]); the d32 trainer's per-round map. */
case class MergePairExpr(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (other, _, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"arguments must be (array<string>, string, string), got " +
            s"(${other.simpleString}, ${second.dataType.simpleString}, " +
            s"${third.dataType.simpleString})")
    }
  override protected def nullSafeEval(ws: Any, wa: Any, wb: Any): Any =
    TextKernels.mergePair(ws.asInstanceOf[ArrayData],
      wa.asInstanceOf[UTF8String], wb.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ws, wa, wb) =>
      s"graft.functions.TextKernels.mergePair($ws, $wa, $wb)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
