package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions._

/** One-call corpus curation — the composed pipeline a training-data team
  * runs end to end, built from the individually-oracled operators:
  * PII scrub → quality gates (length + Gopher repetition) → exact dedup
  * → near dedup → benchmark decontamination.
  *
  * Instead of filtering stage by stage (which would cost one action per
  * stage to account for), [[curate]] ANNOTATES every document with the
  * first stage that rejects it (`reject_reason`, null = kept). The
  * curated corpus is one filter away, and the per-stage report is ONE
  * aggregation over the same annotated frame — no per-stage counting
  * passes. Rejection priority (first match wins): too_short < too_long
  * < repetitive < exact_dup < near_dup < contaminated.
  *
  * Scale notes: the quality gates are map-side expressions plus the d11
  * one-shuffle repetition stats; the dedup stages reuse
  * [[CorpusOps.exactDeduplicate]]'s digest groupBy and
  * [[CorpusOps.dedupClusters]]'s banded LSH (never all-pairs); the
  * benchmark shingle set broadcasts. The input is read by several
  * stages — persist it first for one-pass economics (the caller owns
  * that choice, per the CorpusOps contract). */
object TextPipeline {

  final case class Config(
      scrubPii: Boolean = true,
      minChars: Int = 100,
      maxChars: Int = 1 << 20,
      maxTopWordShare: Double = 0.2,
      nearDupThreshold: Double = 0.5,
      ngram: Int = 3)

  /** The input with `reject_reason` (null = kept) appended — plus
    * n_emails/n_ips when scrubbing is on (text redacted in place).
    *
    * `materialize` is the caller's one caching point: it receives the
    * scrubbed + quality-annotated frame — the subtree every later stage
    * (dedup digests, LSH shingles, decontamination, final annotation)
    * re-reads — and whatever it returns is used in their place. The
    * default is identity (no caching, per the CorpusOps contract); a
    * caller with a stable input passes `_.persist()` (releasing it after
    * consuming the result) or a snapshot-keyed cached view, and the
    * scrub-regex + repetition-stats pass then runs ONCE instead of once
    * per downstream branch. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      config: Config = Config(),
      benchmark: Option[(DataFrame, String)] = None,
      materialize: DataFrame => DataFrame = identity): DataFrame = {
    val base = if (config.scrubPii) CorpusOps.scrubPii(docs, textCol) else docs

    // quality gates: pure column predicates + the d11 repetition stats
    val rep = CorpusOps.repetitionStats(base, idCol, textCol)
      .select(col(idCol), col("top_word_share"))
    val qualityReason =
      when(length(col(textCol)) < config.minChars, "too_short")
        .when(length(col(textCol)) > config.maxChars, "too_long")
        .when(col("top_word_share") > config.maxTopWordShare, "repetitive")
    val rawQualified = base.join(rep, Seq(idCol), "left")
      .withColumn("_g_quality", qualityReason)
    val qualified = materialize(rawQualified)

    // STAGES SEE ONLY PRIOR SURVIVORS — exactly what running the stages
    // as sequential filters would do. Otherwise a near-dup cluster whose
    // representative is itself quality-rejected would drop its members
    // too, silently losing the content entirely.
    //
    // Exact dedup among quality survivors (minimum id per digest wins)
    // as ONE window over the annotated frame: `min(id where quality
    // passes) over (partition by md5)` IS the old keepers relation —
    // min ignores the nulls quality-rejected rows contribute, a group
    // with no survivor yields null exactly like the old left join
    // missing — computed where both consumers (the exact-survivor
    // filter below and the final annotation) already need it. The old
    // shape shuffled the corpus by md5 TWICE (keeper join + annotate
    // join) plus a keeper aggregation; this shuffles it once.
    val wMd5 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g_md5"))
    val withKeeper = qualified
      .withColumn("_g_md5", md5(col(textCol)))
      .withColumn("_g_keeper",
        min(when(col("_g_quality").isNull, col(idCol).cast("long")))
          .over(wMd5))
    val exactReason =
      when(col("_g_keeper").isNotNull && col(idCol) =!= col("_g_keeper"),
        "exact_dup")
    val exactPass = withKeeper
      .filter(col("_g_quality").isNull && col(idCol) === col("_g_keeper"))
      .drop("_g_md5", "_g_keeper")

    // near dedup among exact survivors (cluster min wins)
    val nearDrops = CorpusOps.dedupClusters(exactPass, idCol, textCol,
      threshold = config.nearDupThreshold, ngram = config.ngram)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").cast("long").as(idCol),
        lit(true).as("_g_isnear"))

    // decontamination: any shared word n-gram with the benchmark (checked
    // for all docs — contamination is a property of the text, and running
    // it last in a sequential pipeline flags the same survivors). With a
    // materialized frame, shingle from it (same rows as the scrubbed
    // base, plus ignored annotation columns); on the identity default,
    // shingle from `base` directly — going through `qualified` would drag
    // the unused repetition-stats join into this branch for nothing.
    val contamSource = if (qualified eq rawQualified) base else qualified
    val contam = benchmark.map { case (bench, benchTextCol) =>
      val benchGrams = {
        bench.select(explode(wordNgrams(
            col(benchTextCol), lit(config.ngram))).as("_g_g"))
          .select(md5Prefix28(col("_g_g")).as("shash"))
          .distinct()
      }
      CorpusOps.shingleHashes(contamSource, idCol, textCol, config.ngram)
        .join(broadcast(benchGrams), Seq("shash"), "left_semi")
        .select(col("doc_id").cast("long").as(idCol),
          lit(false).as("_g_isnear"))
    }

    // ONE dropped-ids relation and ONE annotation join instead of one
    // join per dedup/decontamination stage: near-dup and contaminated
    // ids union (both bounded by the corpus' id width, no text rides),
    // the groupBy dedups docs flagged by both stages (replacing contam's
    // old per-branch distinct), and the reason keeps the sequential
    // pipeline's priority — near_dup wins over contaminated, exactly the
    // old coalesce order.
    val drops = contam.fold(nearDrops)(c =>
      nearDrops.unionByName(c).groupBy(col(idCol))
        .agg(max(col("_g_isnear")).as("_g_isnear")))
      .select(col(idCol),
        when(col("_g_isnear"), lit("near_dup"))
          .otherwise(lit("contaminated")).as("_g_drop"))
    withKeeper
      .join(drops, Seq(idCol), "left")
      .withColumn("reject_reason",
        coalesce(col("_g_quality"), exactReason, col("_g_drop")))
      .drop("_g_md5", "_g_keeper", "_g_drop", "_g_quality",
        "top_word_share")
  }

  /** The kept documents, annotation columns removed. */
  def curated(annotated: DataFrame): DataFrame =
    annotated.filter(col("reject_reason").isNull).drop("reject_reason")

  /** Per-stage accounting in ONE aggregation: (reason, n_docs) with the
    * survivors under 'kept'. */
  def report(annotated: DataFrame): DataFrame =
    annotated
      .groupBy(coalesce(col("reject_reason"), lit("kept")).as("stage"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("stage")

  /** End-to-end build configuration on top of the curation [[Config]]:
    * the assembly stages a pretraining corpus runs AFTER cleaning. */
  final case class BuildConfig(
      curate: Config = Config(),
      /** temperature-mix token budget over `domainCol` (None = keep all
        * domains whole; ignored when `domainCol` is None). */
      temperatureBudget: Option[Long] = None,
      /** hash-sliced split ratios (weights, not percentages). */
      splits: Seq[(String, Long)] = Seq(("train", 98L), ("val", 1L),
        ("test", 1L)),
      /** deterministic shard count for training-loader placement. */
      shards: Int = 64,
      seed: Long = 0L)

  /** ONE-CALL pretraining corpus build — the full assembly line over the
    * individually-oracled stages:
    *
    *   curate (scrub → quality → exact/near dedup → decontaminate)
    *   → temperature mix over a domain column  (optional)
    *   → deterministic split assignment (train/val/test)
    *   → reproducible shard placement
    *
    * Returns the curated rows plus (`split`, `shard`, `pos`) — the
    * loader-ready layout (write it `partitionBy("split", "shard")` and a
    * trainer consumes shard files independently). Every stage is
    * content-hash-deterministic: the same input on any cluster, any
    * partitioning, any run produces the SAME corpus — reproducibility is
    * the whole point of hash-based selection (spec-held equality with
    * running the stages manually).
    *
    * Scale shape: inherits each stage's documented shape — no new
    * shuffles are introduced by the composition itself; the only join is
    * the final (doc_id, shard, pos) equi join back onto curated rows. */
  def buildCorpus(docs: DataFrame, idCol: String, textCol: String,
      domainCol: Option[String] = None,
      benchmark: Option[(DataFrame, String)] = None,
      config: BuildConfig = BuildConfig()): DataFrame = {
    val kept = curated(curate(docs, idCol, textCol, config.curate,
      benchmark))
    val mixed = (domainCol, config.temperatureBudget) match {
      case (Some(d), Some(b)) =>
        CorpusOps.temperatureMix(kept, idCol, textCol, d, b)
      case _ => kept
    }
    val withSplit =
      CorpusOps.splitCorpus(mixed, idCol, config.splits, config.seed)
    val placed = CorpusOps.shuffleShards(withSplit, idCol, config.shards,
      config.seed)
    // join on the id AS-IS: shuffleShards preserves the id type, so
    // string ids place correctly (a cast-to-long join would null them
    // out and silently return an empty corpus)
    withSplit.join(
      placed.withColumnRenamed("doc_id", "_g_bid"),
      col(idCol) === col("_g_bid"))
      .drop("_g_bid")
  }
}
