package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Training-data-pipeline text operators over the `documents` table
  * (doc_id, text, lang, source, n_chars).
  *
  * Everything here is a pure DataFrame DAG built from codegen'd built-ins —
  * no UDFs on the hot path, no driver-side collects — so each op scales by
  * partition count alone. Dedup ops shuffle once on the dedup key (the hash),
  * never on raw text: at 100 TB the shuffle payload is the 16-byte digest +
  * doc id, not the document bodies.
  */
object TextQueries {

  /** Exact dedup by content hash (hash-groupBy). MD5 is computed map-side;
    * only (digest, doc_id) reaches the shuffle. DuckDB md5() matches
    * Spark md5() bit-for-bit on UTF-8, which makes this oracle-able. */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("h")

  /** Exact-dedup survivors: one representative doc per distinct content. */
  def d2DedupSurvivors(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy().agg(count(lit(1)).as("n_unique"))

  /** Text statistics: length + whitespace word count, all portable
    * expressions (quality-scoring building blocks). */
  def d3TextStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("text_len"),
        (length(col("text")) -
          length(expr("replace(text, ' ', '')")) + 1).cast("long").as("n_words"))
      .orderBy("doc_id")

  /** Per-language corpus profile (count + size stats, rounded). */
  def d4LangProfile(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  /** Punctuation count over `text` from portable literal replace() counts.
    * (Java regex vs DuckDB regex classes differ, so only literal replaces
    * are used — portability is part of the contract here.) */
  private[operators] def punctCount: Column = {
    val t = col("text")
    (length(t) - length(expr("replace(text, '.', '')"))) +
      (length(t) - length(expr("replace(text, ',', '')"))) +
      (length(t) - length(expr("replace(text, '!', '')"))) +
      (length(t) - length(expr("replace(text, '?', '')")))
  }

  /** The shared quality classifier over `text`: short / punct_heavy / ok
    * (consumed by d5 and ax_pivot — ONE definition so the two gates and
    * their oracles cannot drift apart). */
  private[operators] def qualityBucket: Column =
    when(length(col("text")) < 100, "short")
      .when(punctCount * 20 > length(col("text")), "punct_heavy")
      .otherwise("ok")

  /** Quality score: punctuation-ish ratio, bucketed. */
  def d5QualityScore(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        punctCount.cast("long").as("n_punct"),
        qualityBucket.as("quality"))
      .orderBy("doc_id")

  /** Language-ID heuristic from stopword hits (LIKE-based so the DuckDB
    * oracle is exact); compared against the labeled lang column. */
  def d6LangId(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    documents(s, dir)
      .select(col("doc_id"), col("lang"),
        when(t.like("% the %") || t.like("% and %") || t.like("% of %"), "en")
          .when(t.like("% der %") || t.like("% und %") || t.like("% die %"), "de")
          .when(t.like("% le %") || t.like("% la %") || t.like("% et %"), "fr")
          .otherwise("unknown").as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: first/last 32 chars + length — a cheap
    * content-defined signature (rolling-hash stand-in that stays
    * oracle-able; the non-SQL MinHash path lives in SimilarityQueries). */
  def d7Fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        md5(concat(expr("left(text, 32)"), expr("right(text, 32)"),
          col("n_chars").cast("string"))).as("fingerprint"))
      .orderBy("doc_id")

  /** Token counting with a BPE-ish heuristic: whitespace words plus an
    * extra token per 4 chars of long words — portable arithmetic only. */
  def d8TokenCount(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        (length(col("text")) -
          length(expr("replace(text, ' ', '')")) + 1).cast("long").as("n_words"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("n_tokens_est"))
      .orderBy("doc_id")

  /** Deterministic stratified sampling — per-stratum quotas by content
    * hash, the training-data downsampling primitive. Unlike
    * `df.sample`/`sampleBy` (RNG-seeded, partitioning-dependent), the
    * keep-decision is a pure function of the row: portable 28-bit md5
    * prefix mod 100 under a per-language rate. Reproducible across runs,
    * cluster sizes, AND engines (the rate table is plain SQL). */
  def d9StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Prefix28Expr.register(s)
    val rate: Column = when(col("lang") === "en", 20).otherwise(5)
    documents(s, dir)
      .filter(pmod(call_function("md5_prefix28", col("text")), lit(100L)) < rate)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** d10: test-set decontamination — flag corpus documents that share ANY
    * word n-gram with a benchmark set (the standard pre-training hygiene
    * check; GPT-3 appendix C runs it with 13-grams, 3-grams here to suit
    * the tiny synthetic docs). The synthetic "benchmark" is doc_id % 97
    * == 0.
    *
    * Shape for 100 TB: the benchmark n-gram set is tiny relative to the
    * corpus (benchmarks are a few thousand documents) → `broadcast`
    * left_semi join against the corpus' shingle hashes, which come
    * map-side from the snapshot-cached shingle view
    * ([[SimilarityQueries.docShingles]]) shared with the x2/x4/x8/x9
    * family — the corpus text is shingled once per snapshot, never per
    * query, and never shuffles here at all. */
  def d10Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = SimilarityQueries.docShingles(s, dir)
    val bench = sh.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select(col("shash")).distinct()
    sh.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      .join(broadcast(bench), Seq("shash"), "left_semi")
      .select(col("doc_id")).distinct()
      .orderBy("doc_id")
  }

  /** d11: within-document repetition quality (the Gopher-rules shape:
    * "fraction of characters in the most common n-gram" — here the most
    * common WORD's share of the document, plus lexical diversity). Docs
    * whose top word covers >= 10% of all words are flagged repetitive —
    * the boilerplate/keyword-stuffing filter every pre-training pipeline
    * runs (Gopher §A1.1, Dolma).
    *
    * Scale shape: ONE shuffle — the corpus repartitions on doc_id (same
    * move as [[SimilarityQueries.docShingles]]); hash-partitioning on
    * doc_id satisfies ClusteredDistribution for BOTH downstream groupBys
    * ((doc_id, wh) and (doc_id)), so the explode, the per-word counts and
    * the per-doc rollup all run map-local behind it. Words are
    * 28-bit-hashed post-explode inside codegen (collisions deterministic
    * and identical in the oracle, which mirrors the same md5-prefix
    * hash). */
  def d11RepetitionQuality(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Prefix28Expr.register(s)
    graft.functions.TextExprs.register(s)
    documents(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("split_words", col("text"))).as("w"))
      .select(col("doc_id"), call_function("md5_prefix28", col("w")).as("wh"))
      .groupBy(col("doc_id"), col("wh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        // max(c)/sum(c) is an integer ratio — exact-integer rounding
        // ([[graft.functions.ExactRound]] doc) closes the halfway-grid
        // residue a 2^a·5^b word count could hit
        graft.functions.ExactRound.ratio(col("top_cnt"), col("n_words"), 6)
          .as("top_word_share"),
        (col("top_cnt") * 10 >= col("n_words")).as("repetitive"))
      .orderBy("doc_id")
  }

  /** d12: corpus-level boilerplate n-grams — the word 3-grams present in
    * the most documents (CCNet/C4-style boilerplate discovery: headers,
    * disclaimers, navigation text recur across unrelated pages; their
    * document frequency is the signal). Top 20 by document count,
    * tie-broken by hash for a total order.
    *
    * Scale shape: reuses the snapshot-cached shingle view shared with
    * x2/x4/x8/x9/d10 (the corpus is shingled once, not per query); the
    * per-doc dedup and the doc-frequency count are partial-agg shuffles
    * on the 8-byte shingle hash; the top-20 is a TakeOrdered, not a
    * global sort. */
  def d12BoilerplateNgrams(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.docShingles(s, dir)
      .distinct()
      .groupBy(col("shash")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("shash"))
      .limit(20)

  /** Email pattern in the Java-regex ∩ RE2 common dialect: character
    * classes and bounded repeats only — no backrefs, no lookarounds —
    * so DuckDB (RE2) executes it byte-identically to the JVM. */
  private[operators] val EmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 (\\b is an ASCII word boundary in both dialects). */
  private[operators] val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrub over an arbitrary text column: match counts plus the
    * redacted text (emails → `<EMAIL>`, IPv4s → `<IP>`). A pure map —
    * no shuffle; at 100 TB this runs entirely inside the scan stage. */
  def scrubPii(text: Column): (Column, Column, Column) = (
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).cast("long"),
    regexp_replace(regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
      lit(Ipv4Re), lit("<IP>")))

  /** d13: PII detection + redaction — the pre-training scrubbing pass
    * (emails and IPv4 addresses to placeholder tokens, with per-doc match
    * counts). The synthetic corpus carries no PII, so the query first
    * enriches each doc with doc_id-derived PII spans; the oracle performs
    * the SAME enrichment, so detection and redaction are verified against
    * non-trivial content (the crafted-string edge cases live in the spec).
    * Scale shape: enrich + match + redact are all map-side expressions —
    * zero shuffles; the orderBy is presentation-only. */
  def d13PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val enriched = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail-"), (col("doc_id") % 7).cast("string"),
      lit(".example.com from 10."), (col("doc_id") % 200).cast("string"),
      lit(".0."), (col("doc_id") % 250).cast("string"))
    val (nEmails, nIps, scrubbed) = scrubPii(col("t"))
    documents(s, dir)
      .select(col("doc_id"), enriched.as("t"))
      .select(col("doc_id"), nEmails.as("n_emails"), nIps.as("n_ips"),
        md5(scrubbed).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** d14: per-document keyword extraction by TF-IDF (top 3 terms). The
    * idf uses the raw ratio N/df instead of log(N/df): same ranking, but
    * the score stays inside correctly-rounded IEEE ops (one divide, one
    * multiply) that DuckDB reproduces bit-for-bit — transcendentals are
    * where engines' libm implementations drift.
    *
    * Scale shape: the corpus repartitions ONCE on doc_id into the
    * snapshot-cached tf view ([[docTermFreqs]] — both consumers read the
    * materialized tf, not the corpus). The document-frequency statistic
    * pays a vocabulary-sized post-partial-agg shuffle (irreducibly
    * global) and joins back broadcast-eligible — AQE demotes to a
    * shuffle join on `term` if a giant vocab proves otherwise. The final
    * per-doc window shuffles only WindowGroupLimit survivors: the rank
    * <= 3 filter is pushed below the exchange, so at most 3 rows per
    * (doc, partition) travel, not the tf relation. */
  def d14TfidfKeywords(s: SparkSession, dir: String): DataFrame =
    CorpusOps.tfidfFromTf(
      docTermFreqs(s, dir).withColumnRenamed("tf", "_g_tf"),
      "doc_id",
      documents(s, dir).agg(count(lit(1)).as("_g_n")), topK = 3)
      .orderBy("doc_id", "rank")

  /** d16: URL/domain profiling with blocklist flags — the C4-style
    * domain filter runs off per-domain corpus counts, so the profile is
    * the first step of URL-level curation. The synthetic corpus carries
    * no URLs, so the query enriches each doc with two doc_id-derived
    * URLs (same oracle-mirrored enrichment trick as d13); the capture
    * group in `https?://([A-Za-z0-9.-]+)` keeps extraction inside the
    * Java-regex ∩ RE2 dialect.
    *
    * Scale shape: extract + explode are map-side; ONE partial-agg shuffle
    * on the domain (cardinality = distinct domains, tiny next to the
    * corpus). A real blocklist joins here broadcast; the flag rule stands
    * in for it so the gate stays self-contained. */
  def d16DomainProfile(s: SparkSession, dir: String): DataFrame = {
    val enriched = concat(col("text"),
      lit(" see https://site-"), (col("doc_id") % 13).cast("string"),
      lit(".example.org/page/"), col("doc_id").cast("string"),
      lit(" and http://www.ref-"), (col("doc_id") % 5).cast("string"),
      lit(".net/x"))
    documents(s, dir)
      .select(col("doc_id"), enriched.as("t"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("t"),
          lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("domain"))
      .groupBy(col("domain"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_urls"))
      .withColumn("blocked", col("domain").startsWith("www.ref-"))
      .orderBy("domain")
  }

  /** d17: context-window chunking — split each document into overlapping
    * word windows (64 words, stride 48) the way pretraining prep cuts
    * long documents to the model's context length. Each chunk carries an
    * md5 of its exact text so the oracle verifies CONTENT, not just
    * counts.
    *
    * Scale shape: one-pass kernel tokenization, then a map-side
    * sequence-explode + slice — no shuffle at all beyond the
    * presentation sort; chunk rows inherit the corpus partitioning. */
  def d17ChunkDocuments(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    val Win = 64
    val Stride = 48
    documents(s, dir)
      .select(col("doc_id"),
        call_function("split_words", col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("nw"))
      .filter(col("nw") > 0)
      .select(col("doc_id"), col("w"), col("nw"),
        explode(sequence(lit(0), col("nw") - 1, lit(Stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / Stride).cast("long").as("chunk_idx"),
        least(lit(Win), col("nw") - col("start")).cast("long")
          .as("n_chunk_words"),
        md5(concat_ws(" ", slice(col("w"), col("start") + 1, lit(Win))))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** d18: sequence packing by shard-local running token count — the
    * concat-and-chunk packing GPT-style pipelines use (documents are
    * concatenated in order and cut every `budget` tokens; a document
    * belongs to the bin where it STARTS). Shards = the lang column here;
    * in production the shard is whatever unit a single writer owns, so a
    * global order is never required — that is what makes packing scale.
    *
    * Scale shape: ONE shuffle on the shard key, an in-partition running
    * sum, then a map-local rollup per (shard, bin). All-integer
    * arithmetic → engine-exact. */
  def d18PackSequences(s: SparkSession, dir: String): DataFrame = {
    val Budget = 2048L
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, dir)
      .select(col("doc_id"), col("lang"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("toks"))
      .withColumn("cum", sum(col("toks")).over(w))
      .select(col("lang"), col("doc_id"), col("toks"),
        floor((col("cum") - col("toks")) / Budget).cast("long").as("bin"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang", "bin")
  }

  /** d19: exhaustive duplicate-passage spans over the corpus — the exact
    * word intervals shared (as 16-gram runs) between 2+ documents, merged
    * gaps-and-islands style. [[graft.operators.CorpusOps.dupPassages]] is
    * the frame-generic implementation; here it binds to the documents
    * table. Distinct from x13 (sampled fingerprints ranking document
    * pairs) and d1 (whole-document digests): this returns cuttable spans. */
  def d19DupPassages(s: SparkSession, dir: String): DataFrame =
    CorpusOps.dupPassages(documents(s, dir), "doc_id", "text", n = 16)
      .orderBy("doc_id", "span_start")

  /** Per-doc term frequencies, materialized ONCE per input snapshot: the
    * tf relation feeds both d14's score join and its document-frequency
    * statistic, and Spark does not reuse common subplans — uncached, the
    * corpus would be scanned and exploded twice. Same snapshot-keyed
    * cached-view mechanism as the shingle family; the cache preserves the
    * hash(doc_id) partitioning, so the downstream per-doc window needs no
    * further exchange. */
  private def docTermFreqs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    SimilarityQueries.cachedView(s, dir, "tf") {
      documents(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"),
          explode(call_function("split_words", col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    }
  }

  /** d15: per-language document-length deciles — the corpus profiling
    * step behind length-based quality cutoffs ("drop the shortest decile
    * per language" is a standard pre-training filter, and the thresholds
    * must come from the data). ntile over (n_chars, doc_id) gives every
    * engine the same total order, so bucket edges are integer-exact.
    *
    * Scale shape: ONE shuffle on `lang`, then an in-partition sort. The
    * per-language window is the honest cost of an exact quantile sweep;
    * at 100 TB the approximate path (percentile_approx, already in
    * ax_percentiles) is the first choice and this is the audit tool. */
  def d15LengthDeciles(s: SparkSession, dir: String): DataFrame = {
    // NOT delegated to CorpusOps.lengthDeciles: the generic API derives
    // length(textCol), while this gate (and its oracle) read the table's
    // pre-computed n_chars column — delegating would silently depend on
    // the testdata invariant n_chars == length(text)
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    documents(s, dir)
      .select(col("lang"), col("n_chars"),
        ntile(10).over(w).cast("long").as("decile"))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      .orderBy("lang", "decile")
  }

  /** d20: the corpus with d19's duplicate passages cut out —
    * [[graft.operators.CorpusOps.cutPassages]] over [[d19DupPassages]]'s
    * spans. The pair (find spans, cut spans) is the exact-substring-dedup
    * loop a training pipeline actually runs (Lee et al. 2021). */
  def d20CutPassages(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val spans = CorpusOps.dupPassages(docs, "doc_id", "text", n = 16)
    CorpusOps.cutPassages(docs, "doc_id", "text", spans).orderBy("doc_id")
  }

  /** d21: static domain mixing — resample `source` groups to integer
    * mixture weights `(source_number mod 4) + 1` without upsampling
    * ([[graft.operators.CorpusOps.mixDomains]]). */
  def d21DomainMix(s: SparkSession, dir: String): DataFrame =
    CorpusOps.mixDomains(documents(s, dir), "doc_id", "text", "source",
        d => d.drop(3).toLong % 4 + 1)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** d22: fill a 20k-token training budget best-quality-first, where
    * quality = length bucket `least(9, n_chars div 64)` (longer docs
    * first) and toks = ceil(n_chars/4) (the d18 token model). Histogram-
    * seeded selection — no global window
    * ([[graft.operators.CorpusOps.selectTokenBudget]]). */
  def d22TokenBudget(s: SparkSession, dir: String): DataFrame =
    CorpusOps.selectTokenBudget(documents(s, dir), "doc_id", "text",
        bucket = least(lit(9L), expr("n_chars div 64")),
        toks = ceil(col("n_chars") / lit(4.0)).cast("long"),
        budget = 20000L)
      .orderBy("doc_id")

  /** d23: hashed linear quality classifier
    * ([[graft.operators.CorpusOps.classifyQuality]]) — fastText-shaped
    * scoring with a deterministic hash-derived weight table; fully
    * map-side, zero shuffles. The gate projects the EXACT integer columns
    * (sum, word count, sign label) — the rounded double logit stays a
    * library-only column because round-half ties on the 6th decimal are
    * not portable across engines. */
  def d23QualityClassifier(s: SparkSession, dir: String): DataFrame =
    CorpusOps.classifyQuality(documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("weight_sum"), col("n_words"), col("label"))
      .orderBy("doc_id")

  /** d24: reproducible global shuffle into 8 training shards, seed 1 —
    * [[graft.operators.CorpusOps.shuffleShards]]. Deterministic (hash-
    * derived, engine- and run-independent) where `rand()` shuffles are
    * not. */
  def d24ShuffleShards(s: SparkSession, dir: String): DataFrame =
    CorpusOps.shuffleShards(documents(s, dir), "doc_id", shards = 8,
        seed = 1L)
      .orderBy("doc_id")

  /** d25: corpus-trained bigram LM typicality score
    * ([[graft.operators.CorpusOps.bigramLmScore]]) — the perplexity-filter
    * shape in exact integer arithmetic; the gate compares only the integer
    * columns (the rounded avg stays library-side, as in d23). */
  def d25BigramLm(s: SparkSession, dir: String): DataFrame =
    CorpusOps.bigramLmScore(documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("bigram_hits"), col("n_bigrams"))
      .orderBy("doc_id")

  /** d26: the composed one-call curation pipeline's staged accounting
    * ([[graft.operators.TextPipeline.curate]], default config): PII
    * scrub → length/repetition quality gates → exact dedup → banded-LSH
    * near dedup → benchmark decontamination (benchmark = the d10
    * doc_id % 97 planted convention, raw text). Output (doc_id, stage)
    * for EVERY document — stage is the FIRST rejecting stage or 'kept' —
    * which pins both the per-stage counts and the surviving id set in
    * one relation. */
  def d26Curate(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val bench = docs.filter(col("doc_id") % 97 === 0).select(col("text"))
    TextPipeline.curate(docs, "doc_id", "text",
        benchmark = Some((bench, "text")),
        // one snapshot-keyed cached view of the scrubbed + quality-
        // annotated frame: the scrub regexes and repetition stats run
        // once, not once per downstream dedup/decontamination branch
        materialize = SimilarityQueries.cachedView(s, dir, "curateq")(_))
      .select(col("doc_id").cast("long").as("doc_id"),
        coalesce(col("reject_reason"), lit("kept")).as("stage"))
      .orderBy("doc_id")
  }

  /** d27: incremental crawl admit
    * ([[graft.operators.CorpusOps.dedupeIncrement]]) — the docs worth
    * adding from a simulated increment (doc_id % 5 == 0) against the
    * existing corpus (the rest): exact content copies drop on the md5
    * digest, near-duplicates of the EXISTING corpus drop via
    * cross-corpus banded LSH at 0.5. The batch twin of the streaming
    * [[graft.streaming.DocStreams.admitNew]] gate (held equal by
    * DocStreamsSpec). */
  def d27IncrementAdmit(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    CorpusOps.dedupeIncrement(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
      .select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  /** d42: the d27 incremental admit computed FROM THE SIGNATURE STORE
    * ([[graft.operators.CorpusOps.dedupeIncrementFromStore]]): the
    * existing corpus is reduced to its store relation
    * ([[graft.operators.CorpusOps.signatureStore]] — md5 digest +
    * MinHash signature, ~150 B/doc) and admission never reads its
    * text. Shares d27's oracle verbatim — the gate PROVES the store
    * path reaches the identical admit decision from signatures alone,
    * which is what lets [[graft.streaming.DocStreams.admitArrivals]]
    * scale with doc count instead of corpus text. */
  def d42AdmitFromStore(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // the store side comes from the session's snapshot-keyed signature
    // view (the x2/x4/x8 cachedView convention) filtered to the store
    // subset: signatures are per-doc deterministic (identical
    // word_ngrams + md5_prefix28 + 16-min pipeline), so
    // filter∘signatures ≡ signatures∘filter — and a serving deployment
    // holds exactly this precomputed store, which is the gate's own
    // story ("admission never reads the corpus text"). The digest
    // column and the BATCH side still compute fresh per call.
    val store = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("digest"))
      .join(SimilarityQueries.cachedSignatures(s, dir)
          .filter(col("doc_id") % 5 =!= 0),
        Seq("doc_id"), "left_outer")
    CorpusOps.dedupeIncrementFromStore(store,
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
      .select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  /** d28: deterministic 96/2/2 train/val/test assignment, seed 7 —
    * [[graft.operators.CorpusOps.splitCorpus]]. Hash-sliced per document
    * (no shuffle), so the assignment is stable under corpus growth and
    * identical on any engine. */
  def d28Split(s: SparkSession, dir: String): DataFrame =
    CorpusOps.splitCorpus(documents(s, dir), "doc_id",
        Seq(("train", 96L), ("val", 2L), ("test", 2L)), seed = 7L)
      .select(col("doc_id").cast("long").as("doc_id"), col("split"))
      .orderBy("doc_id")

  /** d30: epoch-weighted upsampling — every doc repeats
    * `(source_number mod 3) + 0.5` epochs (50 / 150 / 250 in the
    * epochs×100 encoding): floor copies for everyone, the fractional
    * remainder selected by content-hash slot
    * ([[graft.operators.CorpusOps.upsampleEpochs]]). Purely map-side —
    * upsampling moves no data at any scale. */
  def d30EpochRepeat(s: SparkSession, dir: String): DataFrame =
    CorpusOps.upsampleEpochs(documents(s, dir), "doc_id", "text",
        epochsPct = expr("(cast(substr(source, 4) as bigint) % 3) * 100 + 50"))
      .select(col("doc_id").cast("long").as("doc_id"),
        col("copy").cast("long").as("copy"))
      .orderBy("doc_id", "copy")

  /** d29: temperature-scaled domain mixture (τ = 1/2, 5000-doc budget) —
    * [[graft.operators.CorpusOps.temperatureMix]]: small sources keep a
    * larger share than proportional sampling gives them, nothing
    * upsamples, and the histogram-seeded selection never runs a
    * full-domain window. */
  def d29TemperatureMix(s: SparkSession, dir: String): DataFrame =
    CorpusOps.temperatureMix(documents(s, dir), "doc_id", "text", "source",
        budget = 5000L)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** d31: adjacent-token pair counts ([[CorpusOps.pairCounts]]) — the
    * inner statistic of one BPE merge round, run corpus-wide. */
  def d31BpePairs(s: SparkSession, dir: String): DataFrame =
    CorpusOps.pairCounts(documents(s, dir), "text", topK = 20)

  /** One BPE training run per (session, corpus snapshot, formulation,
    * rounds) — the x34/x36 snapshot-cache convention applied to the
    * trained MERGE TABLE, the parameter-sized artifact every BPE gate
    * consumes (d32/d33/d35 emit it, d34 applies it corpus-wide): the
    * first use per snapshot trains, later uses replay the driver-held
    * table, so a steady-state serving pass pays presentation cost
    * only — the lifecycle a tokenizer artifact actually has (train
    * once per corpus version, encode forever). The memoized value is
    * rounds×4 scalars; a changed corpus retrains via the snapshot
    * fingerprint. Reference analog: the result-path cache that skips a
    * whole converted run (`pbf_file_reader.py:1294-1340`). */
  private def bpeMergeTable(s: SparkSession, dir: String, chars: Boolean,
      rounds: Int): Seq[(Long, String, String, Long)] =
    SnapshotCache.memo(s, s"bpemerges_${if (chars) "c" else "w"}_$rounds",
        s"$dir/documents.parquet") {
      val t =
        if (chars)
          CorpusOps.trainBpeChars(documents(s, dir), "text", rounds)
        else CorpusOps.trainBpe(documents(s, dir), "text", rounds)
      t.orderBy("round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq
    }

  /** The memoized merge table back as the trainer's output frame —
    * identical schema and values to [[CorpusOps.trainBpe]]'s return
    * (the table IS driver-local in the trainer too). */
  private def mergesDf(s: SparkSession,
      table: Seq[(Long, String, String, Long)]): DataFrame = {
    import s.implicits._
    table.toDF("round", "wa", "wb", "n")
  }

  /** d32: the iterated BPE trainer ([[CorpusOps.trainBpe]], 3 merge
    * rounds) — each round's arg-max pair counted AFTER the previous
    * merges applied, so the gate checks the greedy merge application,
    * not just round-1 statistics. */
  def d32BpeTrain(s: SparkSession, dir: String): DataFrame =
    mergesDf(s, bpeMergeTable(s, dir, chars = false, rounds = 3))
      .orderBy("round")

  /** d35: DEEP BPE training — 12 word-level merge rounds, enough to
    * cross the trainer's materialization boundary
    * ([[CorpusOps.BpeMaterializeEvery]] = 8): rounds 9-12 run on top of
    * a parquet CUT of the symbol relation, so the gate holds the
    * linearized (bounded-lineage) trainer to the exact greedy-merge
    * semantics the 12-round unrolled relational oracle states. */
  def d35BpeDeep(s: SparkSession, dir: String): DataFrame =
    mergesDf(s, bpeMergeTable(s, dir, chars = false, rounds = 12))
      .orderBy("round")

  /** d36: WordPiece tokenizer — vocabulary = top-200 char n-grams
    * (n ≤ 4) of the token stream plus all single chars
    * ([[CorpusOps.wordpieceVocab]]); encoding = greedy longest-match
    * ([[CorpusOps.wordpieceEncode]]). The corpus encodes through its
    * DISTINCT words weighted by occurrence count — the segmenter's cost
    * scales with the lexicon, not the corpus (re-tokenizing a 100 TB
    * crawl touches each distinct word once). Output: (piece, n) top-30
    * corpus-wide, (n desc, piece asc). */
  /** One vocabulary harvest per (session, corpus snapshot) — d36 and
    * d37 score against the SAME vocabulary by construction, so the
    * gram-harvest aggregation runs once, not once per gate
    * ([[graft.operators.SnapshotCache.memo]]; the value is
    * parameter-sized: topK + alphabet pairs). */
  private def gateVocab(s: SparkSession, dir: String): Seq[(String, Long)] =
    SnapshotCache.memo(s, "wpvocab", s"$dir/documents.parquet") {
      CorpusOps.wordpieceVocabWithFreqs(documents(s, dir), "text")
    }

  def d36Wordpiece(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    val docs = documents(s, dir)
    val vocab = gateVocab(s, dir).map(_._1)
    val words = docs
      .select(explode(call_function("split_words", col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    words
      .select(col("wn"),
        explode(CorpusOps.wordpieceEncode(col("w"), vocab)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("piece").asc)
      .limit(30)
  }

  /** d37: OPTIMAL segmentation — the d36 vocabulary re-used with
    * frequency weights through [[CorpusOps.viterbiSegment]]'s integer
    * Viterbi DP (fewest pieces, ties by max total frequency): the
    * unigram-LM decode that greedy WordPiece approximates. Top-30
    * distinct words (length ≤ 12, the oracle's unrolled-DP depth) by
    * occurrence; output (w, n_pieces, freq_sum) ordered by w. */
  def d37ViterbiSegment(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    val docs = documents(s, dir)
    val vocab = gateVocab(s, dir)
    val sel = docs
      .select(explode(call_function("split_words", col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
      .filter(length(col("w")) <= 12)
      .orderBy(col("wn").desc, col("w").asc)
      .limit(30)
    sel
      .select(col("w"), CorpusOps.viterbiSegment(col("w"), vocab).as("v"))
      .select(col("w"), col("v.n_pieces").as("n_pieces"),
        col("v.freq_sum").as("freq_sum"))
      .orderBy(col("w"))
  }

  /** The d36 vocabulary in ID order — (count desc, piece asc), piece id
    * = position. The SAME deterministic ordering both engines replay
    * (binary string collation on ties in Spark and DuckDB alike). */
  private def gateIdVocab(s: SparkSession, dir: String): Seq[String] =
    gateVocab(s, dir).sortBy { case (p, n) => (-n, p) }.map(_._1)

  /** d38: documents encoded to MODEL-INPUT token ids — every word
    * greedy-WordPiece-segmented against the d36 vocabulary, pieces
    * mapped to their (freq desc, piece asc) vocabulary index, per-doc
    * concatenation, all inside one codegen span
    * ([[CorpusOps.encodeIds]]). Output per doc: token count, md5 of the
    * comma-joined id stream, first/last id. */
  def d38TokenIds(s: SparkSession, dir: String): DataFrame =
    tokenIdSummary(CorpusOps.encodeIds(documents(s, dir), "doc_id", "text",
      gateIdVocab(s, dir)))

  /** The d38 presentation: per-doc token count, id-stream digest,
    * first/last id — shared with d41 so both encode paths answer the
    * SAME oracle. */
  private def tokenIdSummary(enc: DataFrame): DataFrame =
    enc.select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        md5(concat_ws(",", transform(col("ids"), _.cast("string"))))
          .as("ids_md5"),
        get(col("ids"), lit(0)).cast("long").as("first_id"),
        when(size(col("ids")) > 0,
          get(col("ids"), size(col("ids")) - 1)).cast("long").as("last_id"))
      .orderBy(col("doc_id"))

  /** d41: encode from the PERSISTED tokenizer artifact — the production
    * serving path: the trained vocabulary ships as a self-describing
    * parquet artifact ([[CorpusOps.saveTokenizer]], built once per
    * corpus snapshot), a fresh consumer loads it back
    * ([[CorpusOps.loadTokenizer]], pid order) and encodes the corpus
    * with the LOADED pieces. The oracle is d38's, unchanged: a hash
    * match proves the artifact round-trip preserves the vocabulary's
    * content AND its id order — what any later job (or cluster) needs
    * to re-encode identically. */
  def d41ArtifactEncode(s: SparkSession, dir: String): DataFrame = {
    val art = SnapshotCache.resolve(s, "d41tok", s"$dir/documents.parquet") {
      out =>
        // ID order (count desc, piece asc) becomes the artifact's pid
        CorpusOps.saveTokenizer(s, out,
          gateVocab(s, dir).sortBy { case (p, n) => (-n, p) })
    }
    val vocab = CorpusOps.loadTokenizer(s, art)._1.map(_._1)
    tokenIdSummary(CorpusOps.encodeIds(documents(s, dir), "doc_id", "text",
      vocab))
  }

  /** d39: fixed-length LM sequence packing — the id streams of d38,
    * one EOS (= vocab size) after each document, packed per language
    * shard into rows of exactly 256 ids ([[CorpusOps.packTokenIds]]:
    * per-shard running-offset window + slice-explode + one (shard, seq)
    * shuffle — documents spanning a cut contribute a slice to each
    * side). Output: (lang, seq_idx, n_ids, ids_md5). */
  def d39PackIds(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val vocab = gateIdVocab(s, dir)
    val enc = CorpusOps.encodeIds(docs, "doc_id", "text", vocab,
      extraCols = Seq("lang"))
    CorpusOps.packTokenIds(enc, "doc_id", "lang", "ids",
        seqLen = 256, eosId = vocab.size)
      .select(col("shard").as("lang"), col("seq_idx"), col("n_ids"),
        md5(concat_ws(",", transform(col("ids"), _.cast("string"))))
          .as("ids_md5"))
      .orderBy(col("lang"), col("seq_idx"))
  }

  /** d40: the SERVING ROUND-TRIP — every document encoded to token ids
    * ([[CorpusOps.encodeIds]], the d38 path) and decoded back
    * ([[CorpusOps.decodeIds]]); the oracle computes the expected decode
    * INDEPENDENTLY (lowercased text with whitespace removed — the
    * character-level content a flat id stream preserves), so a hash
    * match proves encode∘decode loses nothing, corpus-wide. */
  def d40DecodeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val vocab = gateIdVocab(s, dir)
    CorpusOps.encodeIds(docs, "doc_id", "text", vocab)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        md5(CorpusOps.decodeIds(col("ids"), vocab)).as("decoded_md5"))
      .orderBy(col("doc_id"))
  }

  /** d33: character-level BPE ([[CorpusOps.trainBpeChars]], 3 rounds) —
    * the canonical within-word formulation: chars + `</w>` markers,
    * merges never cross word boundaries. */
  def d33BpeChars(s: SparkSession, dir: String): DataFrame =
    mergesDf(s, bpeMergeTable(s, dir, chars = true, rounds = 3))
      .orderBy("round")

  /** d34: the trained tokenizer's VOCABULARY — symbol frequencies after
    * [[d33BpeChars]]'s 3 char-level merges are applied corpus-wide
    * ([[CorpusOps.applyBpe]]): the artifact a tokenizer ships next to
    * its merge table. Train → apply → one (symbol, count) shuffle. */
  def d34BpeVocab(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExprs.register(s)
    // the same memoized table d33 emits — training runs once per
    // corpus snapshot across the whole family, not once per gate
    val merges = bpeMergeTable(s, dir, chars = true, rounds = 3)
      .map { case (_, wa, wb, _) => (wa, wb) }
    // the corpus-wide encode pass: spread the sub-split-size bench
    // parquet so the explode + char/BPE kernels don't serialize on one
    // core (no-op at corpus scale — the bm25Scores/x33 convention), and
    // split chars with the one-pass char_ngrams kernel instead of a
    // per-char transform/sequence/substring HOF chain (identical
    // values; symbol counts are computation-order-free)
    val syms = ScaleUtils.spreadForCompute(documents(s, dir),
        minBytes = graft.SizePolicy.TextSpreadMinBytes)
      .select(explode(call_function("split_words", col("text"))).as("_g_w"))
      .select(concat(call_function("char_ngrams", col("_g_w"), lit(1)),
        array(lit("</w>"))).as("_g_ws"))
    syms.select(explode(CorpusOps.applyBpe(col("_g_ws"), merges))
        .as("symbol"))
      .groupBy(col("symbol")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("symbol").asc)
      .limit(20)
  }
}
