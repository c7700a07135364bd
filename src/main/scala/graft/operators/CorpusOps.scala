package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DataFrame-generic corpus-hygiene API — the surface a library user calls
  * on their OWN tables. The `SparkEntry` gate queries bind these same DAGs
  * to the driver's testdata layout (fixed `documents` schema, snapshot-keyed
  * cached views, oracle-stable output projections); this object exposes them
  * for any `(id, text)` frame with caller-chosen column names.
  *
  * Contract: `idCol` must be unique per document and castable to LONG
  * (cluster labels are component-minimum ids, so ids must be orderable).
  * Internal working columns are `_g_`-prefixed (user frames must not carry
  * `_g_*` names); outputs use the documented names per method.
  * Input caching is the CALLER's choice — pipelines chaining several of
  * these over one corpus should `docs.persist()` first. NOTHING is
  * persisted internally: self-join and tf-reuse shapes lean on Catalyst's
  * exchange reuse (canonically identical shuffle subtrees execute once —
  * verified ReusedExchange in every such plan here), and the one
  * cross-action intermediate ([[SimilarityQueries.clustersFromPairs]]'
  * edge frame) is persisted and released inside the call. A long-lived
  * session therefore never accumulates orphaned cache entries from this
  * API.
  *
  * Scale shapes are identical to the gate queries (SURVEY §7.1 module 8):
  * one corpus repartition on the id, fixed-width hash keys on every
  * shuffle, banded LSH instead of all-pairs, cluster solve via driver
  * union-find under [[SimilarityQueries.MaxDriverEdges]] edges and
  * distributed label propagation past it.
  */
object CorpusOps {

  /** Word n-gram shingle hashes: (doc_id LONG, shash LONG), repartitioned
    * by doc_id so every downstream per-doc groupBy runs exchange-free. */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3): DataFrame = {
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    val s = docs.sparkSession
    graft.functions.Md5Prefix28Expr.register(s)
    graft.functions.TextExprs.register(s)
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_g_text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("word_ngrams", col("_g_text"), lit(ngram)))
          .as("_g_sh"))
      .select(col("doc_id"),
        call_function("md5_prefix28", col("_g_sh")).as("shash"))
  }

  /** MinHash signature per document: (doc_id, sig ARRAY<LONG>[numPerms]).
    * More permutations → tighter Jaccard estimates; `numPerms` must be a
    * multiple of the band size used downstream. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3,
      numPerms: Int = SimilarityQueries.NumPerms): DataFrame =
    SimilarityQueries.minhashSignaturesFrom(
      shingleHashes(docs, idCol, textCol, ngram), numPerms)

  /** LSH near-duplicate candidate pairs: (doc_a, doc_b, est_jaccard).
    * Band geometry tunes recall: nBands = numPerms/bandSize buckets per
    * doc, candidate probability ≈ 1-(1-j^bandSize)^nBands. The self-join's
    * two banded sides are canonically identical, so the signature build
    * and band shuffle execute ONCE and the second side reads the reused
    * exchange (verified ReusedExchange — and measured faster than a
    * persist, which paid a cache write plus two band shuffles). Nothing
    * is left in the session CacheManager. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3, numPerms: Int = SimilarityQueries.NumPerms,
      bandSize: Int = SimilarityQueries.BandSize): DataFrame = {
    require(numPerms % bandSize == 0,
      s"numPerms ($numPerms) must be a multiple of bandSize ($bandSize)")
    SimilarityQueries.lshPairs(
      minhashSignatures(docs, idCol, textCol, ngram, numPerms),
      numPerms, bandSize)
  }

  /** Near-duplicate clusters: (doc_id, cluster_id) for every doc with at
    * least one near-duplicate (estimated Jaccard >= `threshold`); the
    * label is the component-minimum id. */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String,
      driverEdgeLimit: Int = SimilarityQueries.MaxDriverEdges,
      threshold: Double = 0.5, ngram: Int = 3,
      numPerms: Int = SimilarityQueries.NumPerms,
      bandSize: Int = SimilarityQueries.BandSize): DataFrame =
    SimilarityQueries.clustersFromPairs(docs.sparkSession,
      candidatePairs(docs, idCol, textCol, ngram, numPerms, bandSize),
      driverEdgeLimit, threshold)

  /** End-to-end near-dedup: the input minus every non-representative
    * cluster member (cluster-minimum id survives), original schema
    * untouched. No broadcast hint on the drop list — it is
    * data-proportional, and AQE upgrades the anti-join to broadcast
    * whenever it is actually small. */
  def deduplicate(docs: DataFrame, idCol: String, textCol: String,
      driverEdgeLimit: Int = SimilarityQueries.MaxDriverEdges,
      threshold: Double = 0.5, ngram: Int = 3,
      numPerms: Int = SimilarityQueries.NumPerms,
      bandSize: Int = SimilarityQueries.BandSize): DataFrame = {
    val drop = dedupClusters(docs, idCol, textCol, driverEdgeLimit,
      threshold, ngram, numPerms, bandSize)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").cast("long").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Exact content dedup: keep the minimum-id row per distinct text
    * (md5-keyed — the shuffle carries 16-byte digests, not text). */
  def exactDeduplicate(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = docs
      .select(md5(col(textCol)).as("_h"), col(idCol).cast("long").as(idCol))
      .groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** SimHash near-duplicate pairs at Hamming distance <= `maxHamming`
    * over a 16-bit word-vote fingerprint: (id_a, id_b, hamming). Banding
    * is LOSSLESS — the fingerprint splits into maxHamming+1 bands, so any
    * pair within the radius shares at least one band exactly (pigeonhole);
    * the xor+popcount verify then filters false bucket-mates. Shuffle
    * carries (band, bandBits, 8-byte fingerprint) per doc per band. */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 1): DataFrame = {
    val Bits = 16
    require(maxHamming >= 0 && maxHamming < Bits,
      s"maxHamming must be in [0, $Bits), got $maxHamming")
    val s = docs.sparkSession
    graft.functions.Md5Prefix28Expr.register(s)
    graft.functions.TextExprs.register(s)
    val bitAggs = (0 until Bits).map { b =>
      sum(when(shiftright(col("_g_wh"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"_g_b$b")
    }
    val fingerprint = (0 until Bits).map { b =>
      when(col(s"_g_b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    val sh = docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_g_text"))
      .select(col("doc_id"),
        explode(call_function("split_words", col("_g_text"))).as("_g_w"))
      .select(col("doc_id"), call_function("md5_prefix28", col("_g_w")).as("_g_wh"))
      .groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), fingerprint.as("_g_sh"))
    // maxHamming+1 bands; the last band absorbs the remainder bits
    val nBands = maxHamming + 1
    val bandBits = Bits / nBands
    val banded = sh.select(col("doc_id"), col("_g_sh"),
      posexplode(array((0 until nBands).map { b =>
        val width = if (b == nBands - 1) Bits - b * bandBits else bandBits
        shiftright(col("_g_sh"), b * bandBits)
          .bitwiseAND((1L << width) - 1)
      }: _*)).as(Seq("_g_band", "_g_key")))
    val a = banded.select(col("_g_band"), col("_g_key"),
      col("doc_id").as("id_a"), col("_g_sh").as("_g_sha"))
    val b = banded.select(col("_g_band"), col("_g_key"),
      col("doc_id").as("id_b"), col("_g_sh").as("_g_shb"))
    a.join(b, Seq("_g_band", "_g_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_g_sha").bitwiseXOR(col("_g_shb"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Within-doc repetition stats (the d11 Gopher-rules shape):
    * (idCol, n_words, n_distinct, top_word_share, repetitive). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = docs.sparkSession
    graft.functions.Md5Prefix28Expr.register(s)
    graft.functions.TextExprs.register(s)
    // internal names are _g_-prefixed so user columns named "w"/"c"/...
    // can never make a reference ambiguous; the id keeps its caller name
    docs.select(col(idCol).cast("long").as(idCol), col(textCol).as("_g_text"))
      .repartition(col(idCol))
      .select(col(idCol),
        explode(call_function("split_words", col("_g_text"))).as("_g_w"))
      .select(col(idCol), call_function("md5_prefix28", col("_g_w")).as("_g_wh"))
      .groupBy(col(idCol), col("_g_wh")).agg(count(lit(1)).as("_g_c"))
      .groupBy(col(idCol))
      .agg(sum(col("_g_c")).as("n_words"), count(lit(1)).as("n_distinct"),
        max(col("_g_c")).as("top_cnt"))
      .select(col(idCol), col("n_words"), col("n_distinct"),
        // exact-integer rounding ([[graft.functions.ExactRound]]): the
        // d11 halfway-grid convention, shared by every consumer of this
        // ratio (the d23/d26 oracles mirror the HUGEINT form)
        graft.functions.ExactRound.ratio(col("top_cnt"), col("n_words"), 6)
          .as("top_word_share"),
        (col("top_cnt") * 10 >= col("n_words")).as("repetitive"))
  }

  /** Corpus boilerplate n-grams by document frequency, with the n-gram
    * TEXT (unlike the hash-keyed d12 gate form): (ngram, n_docs), top-K.
    * The per-doc dedup groups on (doc_id, 8-byte hash); only the distinct
    * survivors' gram strings reach the frequency count. */
  def boilerplateNgrams(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 20): DataFrame = {
    val s = docs.sparkSession
    graft.functions.Md5Prefix28Expr.register(s)
    graft.functions.TextExprs.register(s)
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_g_text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("word_ngrams", col("_g_text"), lit(3))).as("ngram"))
      // doc-local dedup keyed on the hash (map-local behind the
      // repartition), carrying one representative string per group
      .groupBy(col("doc_id"),
        call_function("md5_prefix28", col("ngram")).as("_g_nh"))
      .agg(first(col("ngram")).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("ngram"))
      .limit(topK)
  }

  /** Near-duplicate pairs ACROSS two corpora — the decontamination /
    * incremental-crawl primitive (is a new document a near-copy of
    * anything in the existing corpus / benchmark set?). Returns
    * (doc_id from corpus, ref_id from reference, est_jaccard); ids live
    * in separate namespaces, so no doc_a < doc_b ordering applies.
    *
    * Scale shape: both sides shuffle once into band buckets keyed on the
    * 8-byte band hash; buckets join independently — the A×B pair space
    * never materializes. A benchmark-sized reference side becomes a
    * broadcast join under AQE without any hint. */
  def nearDupAgainst(corpus: DataFrame, corpusId: String, corpusText: String,
      reference: DataFrame, refId: String, refText: String,
      ngram: Int = 3, numPerms: Int = SimilarityQueries.NumPerms,
      bandSize: Int = SimilarityQueries.BandSize): DataFrame = {
    require(numPerms % bandSize == 0,
      s"numPerms ($numPerms) must be a multiple of bandSize ($bandSize)")
    SimilarityQueries.lshPairsAcross(
      minhashSignatures(corpus, corpusId, corpusText, ngram, numPerms),
      minhashSignatures(reference, refId, refText, ngram, numPerms),
      numPerms, bandSize)
      .withColumnRenamed("doc_a", "doc_id")
      .withColumnRenamed("doc_b", "ref_id")
  }

  /** Near-dup decontamination: the corpus minus every document whose
    * estimated Jaccard against ANY reference document reaches
    * `threshold` — the near-duplicate upgrade of [[decontaminate]]'s
    * exact n-gram-overlap rule (GPT-3 appendix C uses exact overlap;
    * near-dup catches lightly edited benchmark copies). */
  def decontaminateNearDup(corpus: DataFrame, corpusId: String,
      corpusText: String, reference: DataFrame, refId: String,
      refText: String, threshold: Double = 0.5, ngram: Int = 3,
      numPerms: Int = SimilarityQueries.NumPerms,
      bandSize: Int = SimilarityQueries.BandSize): DataFrame = {
    val hits = nearDupAgainst(corpus, corpusId, corpusText,
      reference, refId, refText, ngram, numPerms, bandSize)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_id").cast("long").as(corpusId)).distinct()
    corpus.join(hits, Seq(corpusId), "left_anti")
  }

  /** Per-document tf-idf keywords (the d14 shape, frame-generic):
    * (idCol, rank, term, tfidf), top `topK` terms per document with the
    * ratio idf N/df and the (score desc, term asc) total order. The tf
    * relation feeds both the score join and the document-frequency
    * statistic through ONE shuffle: the two consumers' aggregation
    * subtrees are canonically identical, so Catalyst reuses the tf
    * exchange (verified ReusedExchange) — no internal persist. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    graft.functions.TextExprs.register(docs.sparkSession)
    val tf = docs
      .select(col(idCol).cast("long").as(idCol), col(textCol).as("_g_text"))
      .repartition(col(idCol))
      .select(col(idCol),
        explode(call_function("split_words", col("_g_text"))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("_g_tf"))
    tfidfFromTf(tf, idCol, docs.agg(count(lit(1)).as("_g_n")), topK)
  }

  /** The scoring half of tf-idf over a prepared (idCol, term, _g_tf)
    * relation — shared by [[tfidfKeywords]] (internally persisted tf)
    * and the d14 gate query (snapshot-cached tf), so the two surfaces
    * cannot drift. `nDocs` is a 1-row (_g_n) frame. */
  private[operators] def tfidfFromTf(tf: DataFrame, idCol: String,
      nDocs: DataFrame, topK: Int): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("_g_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"),
        // tf·N/df is an integer ratio — rounded at 4 via EXACT integer
        // arithmetic ([[graft.functions.ExactRound]]): a df of 2^a·5^b
        // can put the true score ON the 4-decimal halfway grid, where
        // two engines' doubles legitimately round apart (the r12 x20
        // defect class; this was the audit's latent case #2). The
        // product runs in decimal so corpus-scale tf·N can't wrap.
        graft.functions.ExactRound.ratio(
          col("_g_tf").cast(org.apache.spark.sql.types.DecimalType(38, 0))
            * col("_g_n"),
          col("_g_df"), 4).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("term"), col("tfidf"))
  }

  /** PII scrub in place: `textCol` redacted (emails → `<EMAIL>`, IPv4s →
    * `<IP>`) with per-row match counts appended as n_emails/n_ips. A pure
    * map — zero shuffles ([[TextQueries.scrubPii]] is the column form). */
  def scrubPii(docs: DataFrame, textCol: String): DataFrame = {
    val (ne, ni, red) = TextQueries.scrubPii(col(textCol))
    docs.withColumn("n_emails", ne)
      .withColumn("n_ips", ni)
      .withColumn(textCol, red)
  }

  /** Per-group text-length deciles (the d15 shape, frame-generic):
    * (groupCol, decile, n_docs, lo, hi) over length(textCol), with the
    * (length, id) total order pinning every engine to the same buckets. */
  def lengthDeciles(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("_g_len"), col(idCol))
    docs.select(col(groupCol), col(idCol),
        length(col(textCol)).cast("long").as("_g_len"))
      .select(col(groupCol), col("_g_len"),
        ntile(10).over(w).cast("long").as("decile"))
      .groupBy(col(groupCol), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("_g_len")).as("lo"), max(col("_g_len")).as("hi"))
  }

  /** Incremental corpus maintenance: the subset of `newDocs` worth
    * adding to `existing` — drops exact content duplicates (md5 anti
    * join against the existing corpus' digests) and near-duplicates of
    * existing documents (cross-corpus banded LSH at `threshold`). The
    * daily-crawl-increment shape: the existing corpus is only ever read
    * as 16-byte digests + minhash signatures, never rewritten, and the
    * increment — tiny next to the corpus — drives all join sides that
    * AQE would broadcast. Within-increment duplicates are left for a
    * subsequent [[deduplicate]] over the merged corpus (or
    * [[exactDeduplicate]] on the increment) — this op's contract is
    * purely "new vs existing". */
  def dedupeIncrement(existing: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      ngram: Int = 3): DataFrame = {
    val existingHashes = existing
      .select(md5(col(textCol)).as("_g_h")).distinct()
    val exactNew = newDocs
      .withColumn("_g_h", md5(col(textCol)))
      .join(existingHashes, Seq("_g_h"), "left_anti")
      .drop("_g_h")
    decontaminateNearDup(exactNew, idCol, textCol,
      existing, idCol, textCol, threshold, ngram)
  }

  /** The SIGNATURE STORE of a corpus — one row per document carrying
    * everything incremental admission ([[dedupeIncrementFromStore]])
    * ever reads of it: `(doc_id LONG, digest STRING, sig ARRAY<LONG>)`.
    * `digest` = md5(text) (the exact-dup key); `sig` = the MinHash
    * signature (the near-dup LSH key; NULL for documents too short to
    * shingle — such documents produce no candidate pairs, exactly as
    * they do on the recompute path). [[dedupeIncrement]] promises the
    * existing corpus "is only ever read as 16-byte digests + minhash
    * signatures" — but recomputes them from text on every call, so a
    * loop admitting against a growing corpus re-reads and re-shingles
    * ALL accumulated text per batch. Persisting THIS relation instead
    * (~150 B/doc vs the text itself) makes per-batch admission cost
    * proportional to the batch plus a compact store scan: each batch
    * computes signatures only for ITSELF and appends its survivors'
    * rows to the store ([[graft.streaming.DocStreams.admitArrivals]]
    * stores them as extra columns on the admitted batch files, so the
    * corpus and its store stay one write). Signatures are deterministic
    * in (text, ngram, numPerms), so admit decisions are bit-identical
    * to the recompute path — spec-held. */
  def signatureStore(docs: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3,
      numPerms: Int = SimilarityQueries.NumPerms): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        md5(col(textCol)).as("digest"))
      .join(minhashSignatures(docs, idCol, textCol, ngram, numPerms),
        Seq("doc_id"), "left_outer")

  /** [[dedupeIncrement]] against a PRECOMPUTED [[signatureStore]]
    * instead of the existing corpus's text: same decisions (exact md5
    * anti join, then banded LSH at `threshold` — signatures are
    * deterministic, so the two paths admit the SAME set), but the
    * existing side is the compact store relation — no text scan, no
    * re-shingling, no per-existing-doc signature recompute. Returns the
    * admitted `newDocs` rows with their `digest` and `sig` columns
    * APPENDED, so the caller extends the store without recomputing
    * (drop them if unwanted). `ngram`/`numPerms` must match the store's
    * build parameters — stored and fresh signatures must come from one
    * hash family ([[graft.streaming.DocStreams.admitArrivals]] pins
    * them per path and fails loudly on drift).
    *
    * Scale shape: the increment drives both probes. Exact: the store is
    * semi-filtered by the BATCH's digests (broadcast) before the anti
    * join, so the store's digest column is scanned map-side — never
    * shuffled, never aggregated. Near-dup: the band join's small side
    * is the batch (AQE broadcasts it), the store's banding explode is
    * map-side. Total per-batch store cost: one ~150 B/doc columnar
    * scan. Beyond memory-bounded increments, pre-bucket both sides on
    * the band key. */
  def dedupeIncrementFromStore(store: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      ngram: Int = 3, numPerms: Int = SimilarityQueries.NumPerms,
      bandSize: Int = SimilarityQueries.BandSize): DataFrame = {
    require(numPerms % bandSize == 0,
      s"numPerms ($numPerms) must be a multiple of bandSize ($bandSize)")
    require(!newDocs.columns.contains("digest") &&
      !newDocs.columns.contains("sig"),
      "dedupeIncrementFromStore appends `digest` and `sig` columns — " +
        "rename the input's own columns of those names first")
    // `_g_`-prefixed working keys keep every join unambiguous: the sig
    // frame derives FROM newDocs (a self-join lineage), so joining on
    // the raw idCol name would be ambiguous whenever idCol == "doc_id"
    val nd = newDocs.withColumn("digest", md5(col(textCol)))
      .withColumn("_g_nid", col(idCol).cast("long"))
    val sigs = minhashSignatures(newDocs, idCol, textCol, ngram, numPerms)
      .withColumnRenamed("doc_id", "_g_sid")
    // left outer: a doc too short to shingle has no sig row — exactly
    // the recompute path, where it produces no candidate pairs
    val enriched = nd.join(sigs, col("_g_nid") === col("_g_sid"),
      "left_outer").drop("_g_sid")
    // batch-driven exact probe: a naive anti join against
    // store.digest.distinct() would SHUFFLE the whole store per batch
    // (distinct over unique keys reduces nothing) and outgrow the
    // broadcast limit at corpus scale. Semi-filtering the store by the
    // BATCH's digests first broadcasts the batch side, scans the store
    // map-side, and leaves a batch-bounded right side for the anti join
    // (right-side duplicates cannot change an anti join's result).
    // Every broadcast below is an EXPLICIT hint, not an AQE guess: the
    // increment is bounded by this operator's CONTRACT (the
    // crawl-batch shape), which size estimates cannot know — the same
    // lesson the x33 plan audit pinned for [[EmbeddingOps.admitVectors]].
    // the trailing distinct keeps `seen` ≤ the batch's DISTINCT digest
    // count even when the store itself carries duplicate digests
    // (nothing forces a seed corpus to be pre-deduped): without it the
    // forced broadcast would scale with the store's duplication factor
    val seen = store.join(
      broadcast(nd.select(col("digest")).distinct()),
      Seq("digest"), "left_semi")
      .select(col("digest")).distinct()
    val exactNew = enriched.join(broadcast(seen), Seq("digest"),
      "left_anti")
    val hits = SimilarityQueries.lshPairsAcross(
        broadcast(exactNew.filter(col("sig").isNotNull)
          .select(col("_g_nid").as("doc_id"), col("sig"))),
        store.filter(col("sig").isNotNull).select(col("doc_id"), col("sig")),
        numPerms, bandSize)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a").as("_g_hit")).distinct()
    exactNew.join(broadcast(hits), col("_g_nid") === col("_g_hit"),
      "left_anti")
      // pin the documented order (the USING anti-join floats its key
      // first): the input's own columns, then the appended store pair
      .select(newDocs.columns.map(col) ++ Seq(col("digest"), col("sig")): _*)
  }

  /** Within-set collapse of a frame that ALREADY CARRIES its
    * signature-store columns (`digest`, `sig` — e.g.
    * [[dedupeIncrementFromStore]] output): one survivor (min id) per
    * exact digest group, then near-dup clusters from the stored
    * signatures (cluster-minimum survivor) — the
    * [[exactDeduplicate]]-then-[[deduplicate]] composition with ZERO
    * text reads and no re-shingling. Decisions identical to the text
    * path: `digest` IS the md5 the exact path hashes and `sig` IS the
    * signature the LSH path aggregates (spec-held). */
  def collapseEnriched(docs: DataFrame, idCol: String,
      driverEdgeLimit: Int = SimilarityQueries.MaxDriverEdges,
      threshold: Double = 0.5,
      numPerms: Int = SimilarityQueries.NumPerms,
      bandSize: Int = SimilarityQueries.BandSize): DataFrame = {
    val keep = docs
      .select(col("digest").as("_g_h"), col(idCol).cast("long").as(idCol))
      .groupBy(col("_g_h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val exact = docs.join(keep, Seq(idCol), "left_semi")
    val drop = SimilarityQueries.clustersFromPairs(docs.sparkSession,
        SimilarityQueries.lshPairs(
          exact.filter(col("sig").isNotNull)
            .select(col(idCol).cast("long").as("doc_id"), col("sig")),
          numPerms, bandSize),
        driverEdgeLimit, threshold)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").cast("long").as(idCol))
    exact.join(drop, Seq(idCol), "left_anti")
  }

  /** Partial-overlap (substring-level) near-duplicate pairs via sampled
    * character n-gram fingerprints — the MOSS/winnowing family (Manber
    * 1994; Schleimer et al. 2003): whole-document MinHash misses a page
    * that EMBEDS a copied paragraph inside otherwise-novel text; shared
    * substring fingerprints catch it. Every k-char gram is hashed, the
    * deterministic `h % modP == 0` sample keeps ~1/modP of them
    * (portable across engines, unlike winnowing's position-dependent
    * window minima), grams appearing in more than `maxDocFreq` docs are
    * dropped as boilerplate (the MOSS common-fingerprint rule — also the
    * bucket-size bound for the self-join), and pairs sharing at least
    * `minShared` surviving fingerprints are emitted with the count.
    *
    * Scale shape: the gram explode is a map-side ×k blowup cut back
    * ~modP× by the hash filter BEFORE anything shuffles; then the WHOLE
    * pipeline is two aggregations — groupBy(hash) with a BOUNDED
    * collect-set ([[graft.functions.BoundedCollectSet]]: one doc past
    * `maxDocFreq` latches the bucket to overflow and drops it, so a
    * boilerplate gram can never blow executor memory), and a groupBy on
    * the in-bucket pairs. The set dedupes (doc, hash) inside the partial
    * agg (no distinct stage), the cap applies inside the same agg (no
    * frequency-count join), pairs explode from each bucket's sorted array
    * (no self-join), and nothing persists — one relation, one pass.
    * Earlier formulation (distinct → persist → cap semi-join → hash
    * self-join) measured 3.8 s cold at sf0.1; this shape ~halves it and
    * removes three shuffles plus the corpus-scale cache. */
  /** Ensure at least default-parallelism partitions before a ×k map-side
    * gram explode — but only when the input is big enough for the
    * shuffle to pay for itself ([[graft.SizePolicy.TextSpreadMinBytes]]):
    * a mid-size corpus scanning as fewer splits than cores would
    * serialize the explode+hash blowup, while a SMALL corpus explodes
    * faster on its natural partitioning than its text can round-trip a
    * repartition.
    * Corpus-scale inputs exceed both the gate and the partition bound —
    * there this is a no-op and costs no shuffle. */
  private def spread(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val fired = bytes >= graft.SizePolicy.TextSpreadMinBytes &&
      df.rdd.getNumPartitions < p
    graft.SizePolicy.logSpread("CorpusOps.spread", df.sparkSession, bytes,
      fired)
    if (fired) df.repartition(p, key) else df
  }

  def fingerprintOverlap(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 24, modP: Int = 8, maxDocFreq: Int = 50,
      minShared: Int = 3): DataFrame = {
    require(k >= 4, s"gram length k must be >= 4, got $k")
    require(modP >= 1 && maxDocFreq >= 2 && minShared >= 1,
      s"bad parameters (modP=$modP, maxDocFreq=$maxDocFreq, minShared=$minShared)")
    val s = docs.sparkSession
    graft.functions.Md5Prefix28Expr.register(s)
    graft.functions.TextExprs.register(s)
    val boundedSet = udaf(new graft.functions.BoundedCollectSet(maxDocFreq),
      org.apache.spark.sql.Encoders.scalaLong)
    // one kernel call emits each doc's SURVIVING gram hashes (the
    // explode-positions-then-substr form copied the whole text into
    // every per-position row — O(len²) bytes per doc through the
    // projection; r9 measurement: x13 1.55 -> ~1.1 s at sf0.1)
    // spread the frame AS GIVEN, before projecting: plan stats price a
    // string column at a flat default, so a post-project estimate sits
    // far under the real text bytes and the floor never fires (the
    // bm25Scores lesson; measured here — the old call site left the
    // gram explode a single 440 ms task with 31 cores idle at sf0.1)
    val buckets0 = spread(docs, col(idCol))
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_g_text"))
      .filter(length(col("_g_text")) >= k)
      .select(col("doc_id"), explode(call_function("char_gram_hashes",
        col("_g_text"), lit(k), lit(modP))).as("h"))
      .groupBy(col("h")).agg(boundedSet(col("doc_id")).as("_g_ds"))
      .filter(col("_g_ds").isNotNull && size(col("_g_ds")) >= 2)
    val buckets = buckets0
    // _g_ds is sorted ascending (BoundedCollectSet.finish), so (i, j>i)
    // enumerates each pair exactly once with doc_a < doc_b
    buckets
      .select(explode(expr(
        "flatten(transform(_g_ds, (a, i) -> " +
          "transform(slice(_g_ds, i + 2, size(_g_ds)), " +
          "b -> struct(a AS doc_a, b AS doc_b))))")).as("_g_p"))
      .select(col("_g_p.doc_a").as("doc_a"), col("_g_p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Test-set decontamination: the corpus minus every document sharing at
    * least one word 3-gram with `benchmark` (both frames in their own
    * column names). The benchmark shingle set is broadcast — benchmarks
    * are tiny next to a training corpus. */
  def decontaminate(corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchmarkText: String,
      ngram: Int = 3): DataFrame = {
    graft.functions.Md5Prefix28Expr.register(corpus.sparkSession)
    graft.functions.TextExprs.register(corpus.sparkSession)
    val benchGrams = benchmark
      .select(explode(call_function("word_ngrams",
        col(benchmarkText), lit(ngram))).as("_g_sh"))
      .select(call_function("md5_prefix28", col("_g_sh")).as("shash"))
      .distinct()
    val contaminated = shingleHashes(corpus, corpusId, corpusText, ngram)
      .join(broadcast(benchGrams), Seq("shash"), "left_semi")
      .select(col("doc_id").as(corpusId)).distinct()
    corpus.join(contaminated, Seq(corpusId), "left_anti")
  }

  /** Exhaustive duplicate-passage detection — the word-n-gram realization
    * of exact-substring dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): any word n-gram occurring in
    * 2+ DISTINCT documents marks its start position, and maximal runs of
    * consecutive marked positions merge into removable spans
    * (gaps-and-islands). Complements [[fingerprintOverlap]]: that samples
    * fingerprints to rank document PAIRS; this is exhaustive and returns
    * the exact word intervals to cut.
    *
    * Output: one row per span — (doc_id LONG, span_start LONG — 0-based
    * word offset, span_words LONG). A document shorter than `n` words
    * shingles to one whole-document gram ([[graft.functions.TextKernels]]
    * contract), so two short duplicates yield full-document spans.
    *
    * Scale shape: the gram relation is persisted (consumed by both the
    * dup-gram aggregation and the position semi join); every shuffle after
    * the corpus scan carries (16-byte digest, LONG) pairs, never text. The
    * per-document window runs after the semi join, i.e. over marked
    * positions only — corpus-sized only in the degenerate all-duplicate
    * corpus. At 100 TB the digest groupBy is the honest cost (one wide
    * shuffle of n_grams rows); Bloom-prefiltering the second pass with
    * [[ScaleUtils.bloomPrefilter]] drops the semi-join shuffle too. */
  def dupPassages(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 16): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val s = docs.sparkSession
    graft.functions.TextExprs.register(s)
    // the gram hash is only a dup-decision key (every gram participates —
    // no hash-derived sampling the oracle would have to replay), so any
    // collision-free hash yields the same spans: the one-pass rolling
    // kernel never materializes gram strings (O(words) work and bytes vs
    // O(words·n) for md5-of-gram-text) and its 8-byte key is 4× narrower
    // in the shuffle than an md5 hex string. Both consumers (the dup-gram
    // aggregate and the semi-join probe) recompute this map-side explode
    // rather than persist it: gram rows dwarf the input text, so at any
    // scale re-tokenizing costs less than materializing the cut.
    // spread before projecting (the x13/bm25Scores stats-floor lesson)
    val grams = spread(docs, col(idCol))
      .select(col(idCol).cast("long").as("doc_id"), col(textCol))
      .select(col("doc_id"),
        size(call_function("split_words", col(textCol))).as("_g_nw"),
        posexplode(call_function("ngram_hashes", col(textCol), lit(n)))
          .as(Seq("_g_pos", "_g_gh")))
    val dupGrams = grams.groupBy(col("_g_gh"))
      .agg(min(col("doc_id")).as("_g_mn"), max(col("doc_id")).as("_g_mx"))
      .filter(col("_g_mn") < col("_g_mx"))
      .select(col("_g_gh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("_g_pos")
    grams.join(dupGrams, Seq("_g_gh"), "left_semi")
      .withColumn("_g_isl", col("_g_pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("_g_isl"))
      .agg(min(col("_g_pos")).as("_g_s"), max(col("_g_pos")).as("_g_e"),
        min(col("_g_nw")).as("_g_w"))
      .select(col("doc_id"), col("_g_s").cast("long").as("span_start"),
        (least(col("_g_e") + n, col("_g_w")) - col("_g_s")).cast("long")
          .as("span_words"))
  }

  /** Cut [[dupPassages]]-style spans out of the corpus: rebuild each
    * document from its word sequence minus every word position covered by
    * a span. `spans` must carry (doc_id, span_start, span_words) with
    * 0-based word offsets and non-overlapping spans per doc (the
    * dupPassages contract). Output text is whitespace-NORMALIZED (the
    * split_words convention: lowercased, runs of whitespace collapsed to
    * single spaces) for every document, cut or not, so downstream hashes
    * are comparable across the two populations.
    *
    * Output: (doc_id LONG, clean_text, n_kept LONG, n_cut LONG).
    *
    * Scale shape: spans aggregate to ONE array row per affected doc, the
    * join is a plain equi join on doc_id (AQE broadcasts it when the dup
    * population is small), and the cut itself is a map-side higher-order
    * filter — no explode, no window, no per-word shuffle. */
  def cutPassages(docs: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val s = docs.sparkSession
    graft.functions.TextExprs.register(s)
    val spanList = spans
      .select(col("doc_id").cast("long").as("doc_id"),
        struct(col("span_start").as("s"), col("span_words").as("w")).as("_g_sp"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("_g_sp")).as("_g_spans"))
    docs
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("_g_text"))
      .join(spanList, Seq("doc_id"), "left")
      .withColumn("_g_ws", call_function("split_words", col("_g_text")))
      .withColumn("_g_kept",
        when(col("_g_spans").isNull, col("_g_ws"))
          .otherwise(expr(
            "filter(_g_ws, (x, i) -> NOT exists(_g_spans, " +
              "sp -> i >= sp.s AND i < sp.s + sp.w))")))
      .select(col("doc_id"),
        concat_ws(" ", col("_g_kept")).as("clean_text"),
        size(col("_g_kept")).cast("long").as("n_kept"),
        (size(col("_g_ws")) - size(col("_g_kept"))).cast("long").as("n_cut"))
  }

  /** Resample the corpus to target domain proportions (the static-mixture
    * step of pre-training data curation — Pile/DoReMi-style weights
    * applied at corpus-build time). `weightOf` maps a domain value to its
    * non-negative integer mixture weight; the largest feasible corpus with
    * proportions `weight/sum(weights)` is taken WITHOUT upsampling: the
    * binding domain (smallest count/weight ratio) is kept whole and every
    * other domain downsamples to `floor(n_binding * w / w_binding)` docs,
    * chosen in content-hash order — per domain, ascending
    * (hash mod `subs`, hash, id) — engine-independent, the d9 stratified-
    * sample convention.
    *
    * Scale shape — the [[selectTokenBudget]] histogram + boundary-cell
    * pattern with domain as the bucket: one (domain × subbucket) count
    * histogram collects to the driver (≤ #domains × `subs` rows — the
    * only driver-side state), whole cells inside a domain's quota pass
    * via a broadcast semi join, cells past it drop, and only each
    * domain's ONE boundary cell — ~1/`subs` of that domain — runs a
    * row_number window, partitioned by (domain, subbucket). No window
    * ever spans a full domain, so a web-crawl corpus that is >50% one
    * source still splits its hot domain across `subs` cells, and `subs`
    * scales the residual window work down arbitrarily. Zero-weight
    * domains drop at the histogram, and null-domain rows are excluded
    * up front (they can carry no mixture weight). */
  def mixDomains(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, weightOf: String => Long,
      subs: Int = 64): DataFrame = {
    val (base, hist) = domainHistogram(docs, textCol, domainCol, subs)
    val counts = hist.groupBy(_._1).map { case (d, cells) =>
      (d, cells.map(_._3).sum)
    }.toArray
    val weighted = counts
      .map { case (d, n) => (d, n, weightOf(d)) }
      .filter { case (_, _, w) =>
        require(w >= 0, s"negative mixture weight for domain"); w > 0 }
    require(weighted.nonEmpty, "mixDomains: every domain has weight 0")
    // binding domain = smallest n/w; IEEE double ratio + name tie-break,
    // the same ordering a SQL oracle computes
    val (_, bn, bw) = weighted.minBy { case (d, n, w) => (n.toDouble / w, d) }
    val quota = weighted.map { case (d, _, w) => d -> bn * w / bw }.toMap
    selectDomainQuota(base, hist, quota, domainCol, idCol)
  }

  /** Shared head of the domain-quota resamplers: the subbucketed base and
    * its (domain × subbucket) count histogram. Null-domain rows are
    * EXCLUDED up front (documented on both resamplers): they can carry no
    * mixture weight, and leaving them in would inflate the weight total —
    * shrinking every real domain's quota — while the null group itself
    * could never be selected (SQL equality never matches null in the
    * semi join). */
  private def domainHistogram(docs: DataFrame, textCol: String,
      domainCol: String, subs: Int): (DataFrame, Array[(String, Long, Long)]) = {
    require(subs >= 1, s"subs must be >= 1, got $subs")
    graft.functions.Md5Prefix28Expr.register(docs.sparkSession)
    val base = docs
      .filter(col(domainCol).isNotNull)
      .withColumn("_g_h", call_function("md5_prefix28", col(textCol)))
      .withColumn("_g_sub", pmod(col("_g_h"), lit(subs.toLong)))
    val hist = base
      .groupBy(col(domainCol).as("_g_dom"), col("_g_sub"))
      .agg(count(lit(1)).as("_g_n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    (base, hist)
  }

  /** Shared selection tail of the domain-quota resamplers ([[mixDomains]],
    * [[temperatureMix]]): walk each domain's subbucket cells in selection
    * order (sub asc); cells wholly inside the quota pass via a broadcast
    * semi join, the ONE boundary cell per domain takes its remainder
    * through a (domain, subbucket)-partitioned window, later cells drop.
    * Domains absent from `quota` drop entirely. */
  private def selectDomainQuota(base: DataFrame,
      hist: Array[(String, Long, Long)], quota: Map[String, Long],
      domainCol: String, idCol: String): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val full = Seq.newBuilder[(String, Long)]
    val edgeTake = Seq.newBuilder[(String, Long, Long)]
    hist.filter { case (d, _, _) => quota.contains(d) }
      .groupBy(_._1).foreach { case (d, cells) =>
        var remaining = quota(d)
        cells.sortBy(_._2).foreach { case (_, sub, n) =>
          if (remaining >= n) { full += ((d, sub)); remaining -= n }
          else if (remaining > 0) { edgeTake += ((d, sub, remaining)); remaining = 0 }
        }
      }
    val kept = base.join(
      broadcast(full.result().toDF(domainCol, "_g_sub")),
      Seq(domainCol, "_g_sub"), "left_semi")
    val edges = edgeTake.result()
    val sel = if (edges.isEmpty) kept else {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col(domainCol), col("_g_sub"))
        .orderBy(col("_g_h"), col(idCol))
      val edge = base
        .join(broadcast(edges.toDF(domainCol, "_g_sub", "_g_take")),
          Seq(domainCol, "_g_sub"))
        .withColumn("_g_rn", row_number().over(win))
        .filter(col("_g_rn") <= col("_g_take"))
        .drop("_g_rn", "_g_take")
      kept.unionByName(edge)
    }
    sel.drop("_g_h", "_g_sub")
  }

  /** Temperature-scaled domain resampling — the multilingual / DoReMi-
    * style mixture step where a domain's sampling share grows like
    * n_d^τ with τ = 1/2, upweighting small domains relative to
    * proportional sampling while never upsampling any domain.
    *
    * The per-domain targets stay in integer arithmetic so any engine
    * replays them exactly: weight_d = floor(sqrt(n_d)) — exact for any
    * real count, since sqrt is correctly rounded and doubles near an
    * integer k < 2^26 are spaced far tighter than the 1/(2k) gap sqrt
    * leaves — and target_d = min(n_d, budget * weight_d / Σ weight_d)
    * in integer division (BigInt internally, so budget × weight cannot
    * overflow). Selection within a domain follows the [[mixDomains]]
    * convention: ascending (content-hash mod `subs`, hash, id).
    *
    * Scale shape: identical to [[mixDomains]] — one (domain × subbucket)
    * count histogram to the driver, broadcast-semi-join keeps, and only
    * each domain's one boundary cell (~1/`subs` of the domain) runs a
    * window, partitioned by (domain, subbucket) — never the bare domain.
    * Null-domain rows are excluded up front (no mixture weight). */
  def temperatureMix(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, budget: Long, subs: Int = 64): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val (base, hist) = domainHistogram(docs, textCol, domainCol, subs)
    require(hist.nonEmpty, "temperatureMix: empty corpus")
    val weights = hist.groupBy(_._1).map { case (d, cells) =>
      val n = cells.map(_._3).sum
      (d, n, math.sqrt(n.toDouble).toLong)
    }.toArray
    val totalW = weights.map(w => BigInt(w._3)).sum
    val quota = weights.map { case (d, n, w) =>
      d -> (BigInt(budget) * w / totalW).toLong.min(n) }.toMap
    selectDomainQuota(base, hist, quota, domainCol, idCol)
  }

  /** Epoch-weighted upsampling — the "repeat small high-quality domains
    * for N.x epochs" step of pre-training mixture construction (the
    * complement of [[mixDomains]]/[[temperatureMix]], which only ever
    * downsample). `epochsPct` is an integer column: epochs × 100 per row
    * (e.g. 250 = 2.5 epochs). Every doc emits floor(e/100) copies, and
    * the fractional remainder selects e%100 percent of docs for ONE more
    * copy by content-hash slot (the d9 stratified-sample convention) —
    * deterministic, engine-portable, and independent per document.
    *
    * Output: the input columns plus `copy` (0-based LONG) — downstream
    * shard shuffles treat (id, copy) as the unit, spreading repeats
    * across shards instead of adjacent slots.
    *
    * Scale shape: purely map-side — a projection plus a bounded
    * sequence-explode; no shuffle, no state, no driver collection. At
    * 100 TB upsampling costs zero data movement; it composes with
    * [[shuffleShards]] for placement. */
  def upsampleEpochs(docs: DataFrame, idCol: String, textCol: String,
      epochsPct: Column): DataFrame = {
    graft.functions.Md5Prefix28Expr.register(docs.sparkSession)
    val e = epochsPct.cast("long")
    val h = pmod(call_function("md5_prefix28", col(textCol)), lit(100L))
    val copies = (e - pmod(e, lit(100L))) / 100L +
      when(h < pmod(e, lit(100L)), 1L).otherwise(0L)
    docs
      .withColumn("_g_n", copies.cast("long"))
      .filter(col("_g_n") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("_g_n") - 1)))
      .drop("_g_n")
  }

  /** Deterministic train/validation/test assignment: split i receives
    * weight_i / Σ weights of the corpus by hashing `seed:id` into
    * Σ weights integer slots. Reproducible across engines, runs and
    * cluster sizes, and stable under corpus growth — a document's split
    * never depends on any other document, which is what keeps eval
    * contamination out when the corpus is re-crawled and re-split.
    * Appends a `split` column; purely map-side (no shuffle, no state).
    *
    * `splits`: (name, non-negative integer weight) with at least one
    * weight positive, e.g. `Seq(("train", 96L), ("val", 2L), ("test", 2L))`.
    * Σ weights is capped at 2^20: slots come from the 28-bit portable
    * hash, so a weight sum of `d` carries a relative slot bias of
    * ~d/2^28 — ≤0.4% at the cap, and ratios never need more resolution
    * (reduce them). Ids hash as their string form, so string keys work
    * too (numeric ids render identically in any engine). */
  def splitCorpus(docs: DataFrame, idCol: String,
      splits: Seq[(String, Long)], seed: Long = 0L): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      splits.exists(_._2 > 0), "splitCorpus: need at least one positive weight")
    val denom = splits.map(_._2).sum
    require(denom <= (1L << 20),
      s"splitCorpus: weight sum $denom exceeds 2^20 — the 28-bit hash slot " +
        "would carry visible modulo bias; reduce the ratios")
    graft.functions.Md5Prefix28Expr.register(docs.sparkSession)
    val slot = pmod(call_function("md5_prefix28",
      concat_ws(":", lit(seed), col(idCol).cast("string"))), lit(denom))
    // cumulative upper bounds turn the weights into a CASE chain; the
    // last split absorbs the tail so zero-weight names never match
    val uppers = splits.scanLeft(("", 0L)) {
      case ((_, cum), (name, w)) => (name, cum + w) }.drop(1)
    val assign = uppers.init.foldRight(lit(uppers.last._1): Column) {
      case ((name, hi), rest) => when(slot < lit(hi), lit(name)).otherwise(rest)
    }
    docs.withColumn("split", assign)
  }

  /** Select documents into a fixed token budget, best-quality-first — the
    * "fill the training-token budget" step. Documents are globally ordered
    * by (bucket DESC, subbucket, content-hash, id) and the maximal prefix
    * whose cumulative `toks` stays within `budget` is kept — WITHOUT a
    * global window: a (bucket × subbucket) token histogram (≤ buckets×`subs`
    * rows) collects to the driver, cells wholly inside the budget pass
    * entirely, cells past it drop, and only the ONE boundary cell — about
    * 1/(buckets×subs) of the corpus — runs an in-cell running sum seeded
    * with the driver-computed offset. At deeper scale the same histogram
    * step recurses on more hash bits instead of widening the window.
    *
    * `bucket` must be a small-cardinality integer quality score (higher =
    * better); `toks` a positive per-doc token count. Output: (doc_id LONG,
    * bucket LONG, toks LONG), the selected docs.
    *
    * Caching: none internal — the method reads `docs` up to three times
    * (histogram, bulk keep, boundary cell), each a narrow pruned pass.
    * A caller wanting one-pass economics persists the input projection
    * (the object contract) and releases it after consuming the result;
    * nothing here outlives the call in the session CacheManager. */
  def selectTokenBudget(docs: DataFrame, idCol: String, textCol: String,
      bucket: Column, toks: Column, budget: Long,
      subs: Int = 64): DataFrame = {
    require(budget >= 0 && subs >= 1, s"bad budget/subs ($budget, $subs)")
    val s = docs.sparkSession
    import s.implicits._
    graft.functions.Md5Prefix28Expr.register(s)
    val base = docs.select(
        col(idCol).cast("long").as("doc_id"),
        bucket.cast("long").as("bucket"), toks.cast("long").as("toks"),
        call_function("md5_prefix28", col(textCol)).as("_g_h"))
      .withColumn("_g_sub", pmod(col("_g_h"), lit(subs.toLong)))
    val hist = base.groupBy(col("bucket"), col("_g_sub"))
      .agg(sum(col("toks")).as("_g_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (b, sub, _) => (-b, sub) }
    // walk cells in global order; full cells pass, the boundary cell gets
    // the running offset, everything after is dropped
    var cum = 0L
    var boundary: Option[(Long, Long, Long)] = None
    val full = Seq.newBuilder[(Long, Long)]
    hist.foreach { case (b, sub, t) =>
      if (boundary.isEmpty && cum + t <= budget) { full += ((b, sub)); cum += t }
      else if (boundary.isEmpty) { boundary = Some((b, sub, cum)) }
    }
    val fullDf = full.result().toDF("bucket", "_g_sub")
    val kept = base.join(broadcast(fullDf), Seq("bucket", "_g_sub"), "left_semi")
    val sel = boundary match {
      case None => kept
      case Some((bb, bs, off)) =>
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket"), col("_g_sub"))
          .orderBy(col("_g_h"), col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val edge = base
          .filter(col("bucket") === bb && col("_g_sub") === bs)
          .withColumn("_g_cum", sum(col("toks")).over(win) + off)
          .filter(col("_g_cum") <= budget)
          .drop("_g_cum")
        kept.unionByName(edge)
    }
    sel.select(col("doc_id"), col("bucket"), col("toks"))
  }

  /** Hashed-n-gram linear quality classifier (the fastText-style shape:
    * score = mean over words of a per-bucket weight, label = sign). The
    * weight table here is a deterministic hash-derived stand-in —
    * `w(word) = (md5_prefix28(word) mod 2001) - 1000`, i.e. uniform in
    * [-1000, 1000] — with the real-model path being the same plan over a
    * broadcast weight map. The word sum stays in exact integer arithmetic;
    * only the final mean divides (sum / (n_words * 1000.0)), so engines
    * agree bit-for-bit until one well-defined rounding.
    *
    * Output: (doc_id LONG, weight_sum LONG — the exact integer sum,
    * n_words LONG, quality_logit DOUBLE rounded to 6, label 'keep'|'drop'
    * — decided on the EXACT integer sum, not the rounded double; the gate
    * query compares only the integer columns so no float rounding ever
    * crosses engines). Entirely map-side: tokenize, hash, sum and divide
    * inside one projection — no explode, no shuffle, no state. */
  /** Deterministic corpus shuffle into training shards — the reproducible
    * global-shuffle step before sequence packing: every engine, run and
    * cluster size produces the SAME (shard, pos) for a given corpus and
    * seed, unlike `rand()`-based shuffles (which also break retry/replay —
    * a re-run task would re-sample). shard = portable_hash(seed:id) mod
    * `shards`; pos = rank of (hash, id) within the shard.
    *
    * Output: (doc_id — input id type preserved, shard LONG, pos LONG).
    *
    * Scale shape: a pure map to (shard, hash) then ONE window partitioned
    * by shard — no global sort. Size `shards` so one shard fits a
    * partition (10k shards at 100 TB ≈ 10 GB/shard); readers then consume
    * shard files independently and a reshuffle is just a new seed. */
  def shuffleShards(docs: DataFrame, idCol: String, shards: Int,
      seed: Long = 0L): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    graft.functions.Md5Prefix28Expr.register(docs.sparkSession)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_g_h"), col("doc_id"))
    docs
      // id type preserved: the hash uses the STRING form (identical for
      // numeric ids, so numeric outputs are unchanged), and string keys
      // shard correctly instead of cast-to-long nulling every row
      .select(col(idCol).as("doc_id"))
      .withColumn("_g_h", call_function("md5_prefix28",
        concat_ws(":", lit(seed), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("_g_h"), lit(shards.toLong)))
      .select(col("doc_id"), col("shard"),
        row_number().over(win).cast("long").as("pos"))
  }

  /** Corpus-trained bigram language-model typicality score — the
    * CCNet/perplexity quality-filter shape with the corpus itself as the
    * LM: a document scores by how common its word bigrams are corpus-wide
    * (sum over its bigrams of the corpus frequency of that bigram).
    * Garbled text scores low, boilerplate high; practice cuts both tails.
    * Counts and sums stay in exact integer arithmetic so engines agree;
    * `avg_freq` (hits / n_bigrams, rounded to 4) is library-side
    * convenience the gate never compares.
    *
    * Output: (doc_id LONG, bigram_hits LONG, n_bigrams LONG,
    * avg_freq DOUBLE). Docs with fewer than 2 words score (0, 0, 0.0).
    *
    * Scale shape: bigrams reduce FIRST to per-doc term frequencies
    * (groupBy (doc, hash28)) so every later stage carries one row per
    * DISTINCT bigram per doc; the corpus frequency table derives from the
    * same tf relation through Catalyst's exchange reuse (one
    * explode+shuffle executed once, read by both consumers — verified
    * ReusedExchange; no persist), and the frequency join shuffles 8-byte
    * hashes, never text. 28-bit hash collisions merge bigram identities
    * identically on both engines. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val s = docs.sparkSession
    graft.functions.TextExprs.register(s)
    graft.functions.Md5Prefix28Expr.register(s)
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("_g_text"))
    val tf = base
      .select(col("doc_id"),
        explode(when(size(call_function("split_words", col("_g_text"))) < 2,
          array().cast("array<string>"))
          .otherwise(call_function("word_ngrams", col("_g_text"), lit(2))))
          .as("_g_bg"))
      .select(col("doc_id"), call_function("md5_prefix28", col("_g_bg")).as("_g_h"))
      .groupBy(col("doc_id"), col("_g_h")).agg(count(lit(1)).as("_g_tf"))
    val corpus = tf.groupBy(col("_g_h")).agg(sum(col("_g_tf")).as("_g_cf"))
    val hits = tf.join(corpus, "_g_h")
      .groupBy(col("doc_id"))
      .agg(sum(col("_g_tf") * col("_g_cf")).as("bigram_hits"),
        sum(col("_g_tf")).as("n_bigrams"))
    base.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bigram_hits"), lit(0L)).as("bigram_hits"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("bigram_hits") / col("n_bigrams").cast("double")), 4)
          .as("avg_freq"))
  }

  def classifyQuality(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val s = docs.sparkSession
    graft.functions.TextExprs.register(s)
    graft.functions.Md5Prefix28Expr.register(s)
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        call_function("split_words", col(textCol)).as("_g_ws"))
      .withColumn("_g_sum", expr(
        "aggregate(transform(_g_ws, w -> md5_prefix28(w) % 2001 - 1000L), " +
          "0L, (acc, x) -> acc + x)"))
      .select(col("doc_id"),
        col("_g_sum").as("weight_sum"),
        size(col("_g_ws")).cast("long").as("n_words"),
        round(when(size(col("_g_ws")) === 0, lit(0.0))
          .otherwise(col("_g_sum") / (size(col("_g_ws")) * lit(1000.0))), 6)
          .as("quality_logit"),
        when(col("_g_sum") > 0, lit("keep")).otherwise(lit("drop"))
          .as("label"))
  }

  /** Adjacent-token pair counts — the per-round counting statistic of BPE
    * tokenizer training (Sennrich, Haddow & Birch, ACL 2016: merge the
    * most frequent adjacent pair, repeat): (pair, n), the `topK` most
    * frequent adjacent word pairs corpus-wide, ties on the pair string.
    *
    * Scale shape: pairs are built MAP-SIDE from each document's token
    * array (an indexed transform — no posexplode self-join, raw text
    * never shuffles), so the only shuffle is the partial-aggregated
    * groupBy(pair) whose payload is (pair, count) at vocabulary² worst
    * case — in practice Zipf-bounded far below corpus size. TakeOrdered
    * keeps the top-k without a global sort. A full BPE trainer calls
    * this per merge round on the re-tokenized corpus. */
  def pairCounts(docs: DataFrame, textCol: String,
      topK: Int = 20): DataFrame = {
    require(topK >= 1, s"pairCounts: topK must be >= 1, got $topK")
    graft.functions.TextExprs.register(docs.sparkSession)
    docs
      .select(call_function("split_words", col(textCol)).as("_g_ws"))
      .select(explode(call_function("adjacent_pairs", col("_g_ws")))
        .as("p"))
      .select(concat(col("p.wa"), lit(" "), col("p.wb")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topK)
  }

  /** Greedy left-to-right non-overlapping merge of the adjacent symbol
    * pair (wa, wb) in a token-array column — one BPE merge application
    * (`"a a a" + (a,a) → ["a a", "a"]`). A pure map over the array via
    * the native codegen kernel [[graft.functions.TextKernels.mergePair]]
    * (one pass, whole-stage codegen; the interpreted `aggregate`-HOF
    * formulation cost ~3× the whole d32 query) — zero shuffles, zero
    * state, any corpus size. Callers must have registered
    * [[graft.functions.TextExprs]] on the session. */
  def applyMerge(ws: org.apache.spark.sql.Column, wa: String,
      wb: String): org.apache.spark.sql.Column =
    call_function("merge_pair", ws, lit(wa), lit(wb))

  /** Byte-pair-encoding trainer over the corpus token stream (Sennrich
    * et al., ACL 2016, run at word level — characters are a caller-side
    * pre-split away): `rounds` iterations of count-adjacent-pairs →
    * merge the arg-max pair everywhere. Returns the merge table
    * (round, wa, wb, n) — the artifact a tokenizer ships.
    *
    * Scale shape per round: pair extraction is MAP-SIDE from each doc's
    * symbol array (indexed transform, no self-join), the count is one
    * partial-agged shuffle whose payload is (pair, count), the arg-max
    * is a 1-row TakeOrdered to the driver, and [[applyMerge]] is a pure
    * map — so a round moves vocabulary-sized data only, never the
    * corpus. Rounds are LINEAR in total work: every `materializeEvery`
    * merges the symbol relation is cut to parquet and re-read
    * ([[trainOnSymbols]]), so round r replays at most
    * `materializeEvery` pending merges — O(rounds · corpus / K) total
    * instead of the O(rounds²/2) a naive lineage chain pays, which is
    * what makes a real 10k-50k-merge training run feasible. Ties break
    * (n desc, wa, wb) — deterministic on any engine. */
  def trainBpe(docs: DataFrame, textCol: String, rounds: Int = 3,
      materializeEvery: Int = BpeMaterializeEvery,
      cutDir: Option[String] = None): DataFrame = {
    graft.functions.TextExprs.register(docs.sparkSession)
    trainOnSymbols(docs.select(
      call_function("split_words", col(textCol)).as("_g_ws")), rounds,
      materializeEvery, cutDir)
  }

  /** Character-level BPE — the canonical Sennrich formulation: each WORD
    * OCCURRENCE becomes its own symbol row (characters + a `</w>`
    * end-of-word marker), so pairs never count or merge across word
    * boundaries. Same trainer loop, same scale shape — the symbol
    * relation is ~5× the token count but still map-extracted, and only
    * (pair, count) data shuffles per round. */
  def trainBpeChars(docs: DataFrame, textCol: String, rounds: Int = 3,
      materializeEvery: Int = BpeMaterializeEvery,
      cutDir: Option[String] = None): DataFrame = {
    graft.functions.TextExprs.register(docs.sparkSession)
    val syms = docs
      .select(explode(call_function("split_words", col(textCol)))
        .as("_g_w"))
      // char_ngrams(w, 1) is the per-char sequence in order — one
      // kernel pass instead of a per-char transform/sequence/substring
      // HOF chain (identical values; the kernel is codegen, the HOF
      // lambda is not)
      .select(concat(call_function("char_ngrams", col("_g_w"), lit(1)),
        array(lit("</w>"))).as("_g_ws"))
    trainOnSymbols(syms, rounds, materializeEvery, cutDir)
  }

  /** Apply a TRAINED merge table in order — the serving-side tokenizer
    * step: encode new text with the vocabulary [[trainBpe]] /
    * [[trainBpeChars]] learned. The table rides as two array literals
    * into ONE `apply_bpe_table` kernel call
    * ([[graft.functions.ApplyBpeTableExpr]]): map-side, zero shuffles,
    * and — unlike folding one `merge_pair` node per merge — a
    * constant-size plan, which is what keeps whole-stage codegen alive
    * at a real vocabulary's 10k-50k merges (a 10k-node fold blows
    * Janino's method limits). Spec-held equal to the per-merge fold. */
  def applyBpe(ws: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    if (merges.isEmpty) ws
    else call_function("apply_bpe_table", ws,
      lit(merges.map(_._1).toArray), lit(merges.map(_._2).toArray))

  /** WordPiece-style vocabulary construction — the topK most frequent
    * character n-grams (lengths 1..maxN, every start position, counted
    * over the full lowercased token stream) by (count desc, gram asc),
    * UNION every single character seen, so the greedy encoder always
    * terminates without a fallback on in-corpus text. Returned
    * driver-side: the collect is bounded by topK + alphabet size — a
    * vocabulary is a model parameter, not data. Scale shape: one
    * map-side gram explode (the [[graft.functions.CharNgramsExpr]]
    * kernel), one partial-agged (gram, count) shuffle, TakeOrdered. */
  def wordpieceVocab(docs: DataFrame, textCol: String, topK: Int = 200,
      maxN: Int = 4): Seq[String] =
    wordpieceVocabWithFreqs(docs, textCol, topK, maxN).map(_._1)

  /** [[wordpieceVocab]] with each piece's corpus gram count attached —
    * the frequency weights [[viterbiSegment]]'s optimal decode scores
    * against (same driver-bounded collect: topK + alphabet). */
  def wordpieceVocabWithFreqs(docs: DataFrame, textCol: String,
      topK: Int = 200, maxN: Int = 4): Seq[(String, Long)] = {
    require(topK >= 1, s"wordpieceVocab: topK must be >= 1, got $topK")
    require(maxN >= 1, s"wordpieceVocab: maxN must be >= 1, got $maxN")
    graft.functions.TextExprs.register(docs.sparkSession)
    // harvest grams from DISTINCT words weighted by occurrence count —
    // identical totals to exploding per occurrence (Σ_w wn·grams(w)),
    // but the ~|word|·maxN gram explosion runs over the LEXICON only;
    // the corpus-proportional part is one (word, count) aggregation of
    // bare words (measured: the occurrence-exploding form grew 2.7× on
    // a 5× corpus; this form is the flat half of PLANS.md's
    // "Tokenizer-serving scaling")
    val words = docs
      .select(explode(call_function("split_words", col(textCol))).as("_g_w"))
      .groupBy(col("_g_w")).agg(count(lit(1)).as("_g_wn"))
    // persisted for the call: the top-K and single-char collects are two
    // jobs over the same harvest aggregation — without the persist the
    // dominant corpus scan + gram shuffle would run twice
    val counts = words
      .select(col("_g_wn"), explode(
        call_function("char_ngrams", col("_g_w"), lit(maxN))).as("g"))
      .groupBy(col("g")).agg(sum(col("_g_wn")).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val top = counts.orderBy(col("n").desc, col("g").asc).limit(topK)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      // the single-char tail sorts the same way the top-K does: a bare
      // collect() returns shuffle-partition order, which varies with
      // partition count / AQE / cluster layout — and these indices ARE
      // the token ids of encodeIds/saveTokenizer, so their order is a
      // reproducibility contract, not a cosmetic one
      val chars = counts.filter(length(col("g")) === 1)
        .orderBy(col("n").desc, col("g").asc)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      (top ++ chars).distinctBy(_._1).toSeq
    } finally counts.unpersist()
  }

  /** Optimal (fewest-pieces, then max-total-frequency) segmentation of a
    * word column against a frequency-weighted vocabulary — the Viterbi
    * decode of a unigram-style tokenizer (Kudo 2018), in exact integer
    * arithmetic so any engine replays it. One
    * [[graft.functions.ViterbiSegmentExpr]] kernel node regardless of
    * vocabulary size. Output struct: (pieces, n_pieces, freq_sum). */
  def viterbiSegment(word: org.apache.spark.sql.Column,
      vocab: Seq[(String, Long)]): org.apache.spark.sql.Column = {
    require(vocab.nonEmpty, "viterbiSegment: empty vocabulary")
    call_function("viterbi_segment", word,
      lit(vocab.map(_._1).toArray), lit(vocab.map(_._2).toArray))
  }

  /** Greedy longest-match WordPiece encoding of a word column against a
    * trained vocabulary (the BERT serving tokenizer — Wu et al. 2016,
    * Devlin et al. 2019): the vocab rides as an array literal into ONE
    * [[graft.functions.WordpieceExpr]] kernel node (hash-set probe per
    * position — per-row cost independent of vocabulary size, constant
    * plan size at any vocab size, the `apply_bpe_table` convention). */
  def wordpieceEncode(word: org.apache.spark.sql.Column,
      vocab: Seq[String]): org.apache.spark.sql.Column = {
    require(vocab.nonEmpty, "wordpieceEncode: empty vocabulary")
    call_function("wordpiece", word, lit(vocab.toArray))
  }

  /** Greedy WordPiece encoding straight to VOCABULARY IDS (piece id =
    * index in `vocab`; an out-of-vocabulary character encodes -1) —
    * the model-input form of [[wordpieceEncode]], one
    * [[graft.functions.WordpieceIdsExpr]] kernel node. */
  def wordpieceIdsEncode(word: org.apache.spark.sql.Column,
      vocab: Seq[String]): org.apache.spark.sql.Column = {
    require(vocab.nonEmpty, "wordpieceIdsEncode: empty vocabulary")
    call_function("wordpiece_ids", word, lit(vocab.toArray))
  }

  /** Every document encoded to its token-ID array: split to words, each
    * word WordPiece-encoded to ids ([[wordpieceIdsEncode]]), per-doc
    * concatenation — entirely inside one codegen span (no shuffle, no
    * explode): (idCol, ids array<int>). */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], extraCols: Seq[String] = Nil): DataFrame = {
    graft.functions.TextExprs.register(docs.sparkSession)
    // ONE fused kernel call per document — the equivalent
    // flatten(transform(split_words(text), w → wordpiece_ids(w, v)))
    // evaluates the inner kernel on Spark's INTERPRETED path once per
    // word (higher-order-function lambdas never enter codegen), which
    // on the corpus-wide model-input encode is the hot loop
    // (bit-equality with the HOF form is spec-held)
    docs.select(col(idCol) +: extraCols.map(col) :+
      call_function("wordpiece_doc_ids", col(textCol),
        lit(vocab.toArray)).as("ids"): _*)
  }

  /** Persist a trained tokenizer as a self-describing parquet artifact —
    * what ships NEXT TO a packed corpus so any later job (or cluster)
    * re-encodes identically: the ID-ordered piece vocabulary with
    * frequencies and, for BPE tokenizers, the ordered merge table.
    * Layout under `path`: `pieces/` (pid, piece, freq — pid is the
    * [[encodeIds]] vocabulary index), `merges/` (rank, wa, wb; empty
    * for WordPiece/unigram tokenizers), written pieces-first /
    * merges-last. Row order is carried by explicit pid/rank columns,
    * never by file order. */
  def saveTokenizer(spark: org.apache.spark.sql.SparkSession, path: String,
      vocab: Seq[(String, Long)],
      merges: Seq[(String, String)] = Nil): Unit = {
    import spark.implicits._
    require(vocab.nonEmpty, "saveTokenizer: empty vocabulary")
    vocab.zipWithIndex.map { case ((p, f), i) => (i, p, f) }
      .toDF("pid", "piece", "freq")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pieces")
    merges.zipWithIndex.map { case ((wa, wb), r) => (r, wa, wb) }
      .toDF("rank", "wa", "wb")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
  }

  /** Load a persisted tokenizer: (vocab in pid order, merges in rank
    * order) — encoding with the loaded artifact is bit-identical to
    * encoding with the originals (spec-held round-trip). */
  def loadTokenizer(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[(String, Long)], Seq[(String, String)]) = {
    val pieces = spark.read.parquet(s"$path/pieces")
      .orderBy(col("pid"))
      .collect().map(r => (r.getAs[String]("piece"), r.getAs[Long]("freq")))
      .toSeq
    val merges = spark.read.parquet(s"$path/merges")
      .orderBy(col("rank"))
      .collect().map(r => (r.getAs[String]("wa"), r.getAs[String]("wb")))
      .toSeq
    (pieces, merges)
  }

  /** Token-ID decode — the serving inverse of [[encodeIds]]: each id
    * maps back to its vocabulary piece and the pieces concatenate (a
    * flat id stream carries no word boundaries, so the round-trip
    * contract is character-level: decode(encode(text)) equals the
    * lowercased text with all whitespace removed — spec-held). An id
    * outside [0, |vocab|) (e.g. the -1 OOV marker) renders as U+FFFD
    * instead of silently vanishing. */
  def decodeIds(ids: org.apache.spark.sql.Column,
      vocab: Seq[String]): org.apache.spark.sql.Column =
    array_join(transform(ids, i => get(lit(vocab.toArray), i)), "", "�")

  /** Fixed-length sequence packing — the LM-input tensor shape: per
    * shard, documents in `idCol` order are concatenated (each followed
    * by one `eosId`) into a token stream, cut into rows of EXACTLY
    * `seqLen` ids (the shard's final row keeps its natural shorter
    * length). Output: (shard, seq_idx, n_ids, ids).
    *
    * Distributed shape: one per-shard window (running offset — same
    * bounded-state-per-shard contract as the d18 token-budget packer),
    * then each document EXPLODES into only the sequences it touches
    * (≤ len/seqLen + 1 rows) carrying the matching slice of its ids,
    * and a (shard, seq) aggregation reassembles slices in stream order
    * via sort_array on (position, slice) structs. Token arrays shuffle
    * once, keyed by the high-cardinality (shard, seq) — no global sort,
    * no driver assembly, no per-shard single task beyond the window's
    * own (the 100 TB knob is shard granularity). */
  def packTokenIds(docs: DataFrame, idCol: String, shardCol: String,
      idsCol: String, seqLen: Int, eosId: Int): DataFrame = {
    // caller contract: idCol is unique within a shard (the running-offset
    // window orders by it; a duplicate id would make the packing order,
    // and therefore every downstream sequence, nondeterministic)
    require(seqLen >= 1, s"packTokenIds: seqLen must be >= 1, got $seqLen")
    val L = seqLen.toLong
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g_shard")).orderBy(col("_g_id"))
    val off = docs
      .select(col(shardCol).as("_g_shard"), col(idCol).as("_g_id"),
        concat(coalesce(col(idsCol), array().cast("array<int>")),
          array(lit(eosId))).as("_g_ids"))
      .withColumn("_g_len", size(col("_g_ids")).cast("long"))
      .withColumn("_g_end", sum(col("_g_len")).over(w))
      .withColumn("_g_start", col("_g_end") - col("_g_len"))
    // _g_len >= 1 always (the appended eos), so the touched-sequence
    // range [start/L, (end-1)/L] is never descending
    val spans = off
      .withColumn("_g_seq", explode(sequence(
        floor(col("_g_start") / L), floor((col("_g_end") - 1) / L))))
      .withColumn("_g_from",
        greatest(lit(0L), col("_g_seq") * L - col("_g_start")))
      .withColumn("_g_to",
        least(col("_g_len"), (col("_g_seq") + 1) * L - col("_g_start")))
      .select(col("_g_shard"), col("_g_seq"),
        (col("_g_start") + col("_g_from")).as("_g_pos"),
        slice(col("_g_ids"), (col("_g_from") + 1).cast("int"),
          (col("_g_to") - col("_g_from")).cast("int")).as("_g_slice"))
    spans
      .groupBy(col("_g_shard").as("shard"), col("_g_seq").as("seq_idx"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("_g_pos"), col("_g_slice")))),
        x => x.getField("_g_slice"))).as("ids"))
      .withColumn("n_ids", size(col("ids")).cast("long"))
      .select(col("shard"), col("seq_idx"), col("n_ids"), col("ids"))
  }

  /** Viterbi-EM-style vocabulary refinement (the hard-EM loop of a
    * unigram tokenizer, run on integer usage counts): each round
    * segments every DISTINCT word with the current piece scores
    * ([[viterbiSegment]] — optimal decode), re-scores every piece by
    * its occurrence-weighted usage, and DROPS multi-character pieces
    * the optimal segmentations never use (single characters always
    * stay — the closure that keeps any text segmentable). Iterating to
    * a fixpoint leaves exactly the pieces that earn their place.
    *
    * Scale shape per round: one segmentation pass over the distinct-word
    * relation (corpus-frequency weighted — cost scales with the
    * LEXICON, not the crawl), one (piece, usage) shuffle whose result
    * is vocab-bounded, one driver collect of that vocab-sized frame.
    * The decode-side kernel is the oracled d37 DP; the refinement loop
    * is held by fixpoint/pruning/conservation specs (a per-round SQL
    * oracle would need per-word PATH reconstruction, which is the one
    * thing the layered-DP oracle cannot express). */
  def refineVocabByUsage(docs: DataFrame, textCol: String,
      vocab0: Seq[(String, Long)], rounds: Int = 3): Seq[(String, Long)] = {
    require(rounds >= 1, s"refineVocabByUsage: rounds must be >= 1")
    require(vocab0.nonEmpty, "refineVocabByUsage: empty vocabulary")
    graft.functions.TextExprs.register(docs.sparkSession)
    // the (word, count) relation is identical every round — persist it
    // for the loop's lifetime (handle pattern, released in finally) so
    // EM rounds re-segment the lexicon, not re-scan the corpus
    val words = docs
      .select(explode(call_function("split_words", col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var vocab = vocab0
      var r = 0
      var converged = false
      while (r < rounds && !converged) {
        val usage = words
          .select(col("wn"),
            explode(viterbiSegment(col("w"), vocab).getField("pieces"))
              .as("piece"))
          .groupBy(col("piece")).agg(sum(col("wn")).as("n"))
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        val next = vocab.flatMap { case (p, _) =>
          val u = usage.getOrElse(p, 0L)
          // single CODE POINT (not char — surrogate pairs) pieces persist
          if (u > 0 || p.codePointCount(0, p.length) == 1) Some(p -> u)
          else None
        }
        converged = next == vocab
        vocab = next
        r += 1
      }
      vocab
    } finally words.unpersist()
  }

  /** Materialize the symbol relation every this-many merge rounds
    * (tunable per call). Without materialization round r's map stage
    * re-applies all r−1 prior merges (lineage chaining) — O(rounds²/2)
    * corpus passes, a scale-killer at a real tokenizer's 10k-50k
    * merges. A parquet cut every K rounds bounds the merge chain at K
    * nodes, making total work O(rounds · corpus / K): the classic
    * compute-vs-materialize trade, here at K = 8 (measured near-flat
    * per-round cost; see PLANS.md, "BPE trainer round-linearity"). */
  val BpeMaterializeEvery = 8

  /** Shared trainer loop over a (_g_ws: array<string>) symbol relation —
    * see [[trainBpe]]'s Scaladoc for the per-round scale shape.
    *
    * Lifecycle (the featuresWithCuts handle pattern):
    *  - the INITIAL symbol relation is persisted so early rounds don't
    *    re-tokenize the corpus (measured 5.7 → 3.3 s warm for 3
    *    char-level rounds at sf0.1), released in `finally`;
    *  - every `materializeEvery` merges the current symbol relation is
    *    CUT — written to parquet and re-read — which truncates lineage
    *    to a bare scan (bounded plan depth: at most `materializeEvery`
    *    merge_pair nodes above the last cut, spec-asserted) and lets
    *    the previous cut's files be deleted immediately, so at most ONE
    *    cut is ever on disk. `cutDir` places the cuts (a shared
    *    filesystem on a real cluster); default is a driver temp dir,
    *    correct for local mode. All cuts are removed in `finally`. */
  private def trainOnSymbols(cur0: DataFrame, rounds: Int,
      materializeEvery: Int = BpeMaterializeEvery,
      cutDir: Option[String] = None,
      onRound: (Int, DataFrame) => Unit = (_, _) => ()): DataFrame = {
    require(rounds >= 1, s"trainBpe: rounds must be >= 1, got $rounds")
    require(materializeEvery >= 1,
      s"trainBpe: materializeEvery must be >= 1, got $materializeEvery")
    val s = cur0.sparkSession
    val base = cur0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var baseLive = true
    // a caller-provided cutDir is a SHARED location (the documented
    // cluster usage) — two concurrent trainers writing fixed cut1..cutN
    // names there would overwrite each other's live cut mid-read, so
    // every run owns a unique subdirectory, removed whole in `finally`
    val cutRoot = cutDir match {
      case Some(d) => s"$d/run-${java.util.UUID.randomUUID()}"
      case None =>
        java.nio.file.Files.createTempDirectory("graft_bpe_cut").toString
    }
    // delete through the Hadoop FileSystem: cutDir is documented as "a
    // shared filesystem on a real cluster", and java.io.File silently
    // no-ops on hdfs:// / s3a:// paths — every cut would leak
    def rmrf(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sessionState.newHadoopConf())
        .delete(hp, true): Unit
    }
    var lastCut: String = null
    try {
      var cur: DataFrame = base
      var sinceCut = 0
      var cutIdx = 0
      val merges =
        collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var r = 1
      var dry = false
      while (r <= rounds && !dry) {
        val best = cur
          .select(explode(call_function("adjacent_pairs", col("_g_ws")))
            .as("p"))
          .groupBy(col("p.wa").as("wa"), col("p.wb").as("wb"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("wa").asc, col("wb").asc)
          .limit(1).collect()
        if (best.isEmpty) dry = true
        else {
          val (wa, wb, n) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((r.toLong, wa, wb, n))
          cur = cur.select(applyMerge(col("_g_ws"), wa, wb).as("_g_ws"))
          sinceCut += 1
          if (sinceCut >= materializeEvery && r < rounds) {
            cutIdx += 1
            val p = s"$cutRoot/cut$cutIdx"
            // a failed cut write must not leave a half-written directory
            // in a caller-provided cutDir (only lastCut is tracked)
            try cur.write.mode("overwrite").parquet(p)
            catch { case t: Throwable => rmrf(p); throw t }
            cur = s.read.parquet(p)
            if (baseLive) { base.unpersist(); baseLive = false }
            if (lastCut != null) rmrf(lastCut)
            lastCut = p
            sinceCut = 0
          }
          onRound(r, cur)
          r += 1
        }
      }
      import s.implicits._
      merges.toSeq.toDF("round", "wa", "wb", "n")
    } finally {
      if (baseLive) base.unpersist()
      // cutRoot is per-run in BOTH arms now (temp dir or UUID subdir of
      // the caller's shared location) — remove the whole run directory
      rmrf(cutRoot)
    }
  }

  /** Test/profiling hook: [[trainOnSymbols]] with a per-round callback
    * receiving (round, current symbol relation) — lets a spec assert
    * the bounded-lineage invariant and a profiler time rounds. */
  private[graft] def trainBpeWithHook(docs: DataFrame, textCol: String,
      rounds: Int, materializeEvery: Int,
      onRound: (Int, DataFrame) => Unit): DataFrame = {
    graft.functions.TextExprs.register(docs.sparkSession)
    trainOnSymbols(docs.select(
      call_function("split_words", col(textCol)).as("_g_ws")), rounds,
      materializeEvery, None, onRound)
  }
}
