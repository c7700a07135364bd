package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale techniques used across the engine, exposed as utilities:
  * bucketed co-located joins (shuffle-free at read time) and salted joins
  * for skewed keys (complementing AQE skew-join for the cases it can't
  * rewrite, e.g. aggregations feeding a join).
  */
object ScaleUtils {

  /** Write both sides bucketed+sorted on the join key so later joins are
    * exchange-free (bucket-local sort-merge). The 100 TB pattern for
    * repeatedly-joined fact tables. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Scale-safe global row numbering (0-based), the distributed replacement
    * for `row_number().over(Window.orderBy(...))` — which funnels the whole
    * table through ONE task. Here: `repartitionByRange` gives disjoint,
    * ordered key ranges per partition; an in-partition sort makes the order
    * total; `RDD.zipWithIndex` then assigns global indexes with one counting
    * pass + one numbering pass, both fully parallel. No single-partition
    * Exchange, no Window (ref semantics: pbf_file_reader.py:3037-3045 —
    * only bounded chunk size matters, so per-partition offsets are exact).
    *
    * The zip runs on `InternalRow`s via
    * [[org.apache.spark.sql.graft.InternalRowOps]] — the public
    * `df.rdd`/`createDataFrame` route would box every row to a generic
    * `Row` and re-encode it, per row, off the codegen path.
    *
    * The sort key must be a deterministic total order (unique, or with ties
    * broken by additional columns) so the two zipWithIndex passes agree. */
  def withGlobalIndex(df: DataFrame, sortCols: Seq[Column],
      idxName: String = "_gidx"): DataFrame =
    org.apache.spark.sql.graft.InternalRowOps.zipWithGlobalIndex(
      df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*),
      idxName)

  /** Salted equi-join for skewed LEFT keys: the left side gets a random
    * salt in [0, salts); the right side is replicated `salts` times with
    * explode — correctness-preserving for inner/left joins on `key`. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltedRight = right
      .withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
      .withColumn("_salt", col("_salt").cast("int"))
    saltedLeft.join(saltedRight, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** The fact side filtered through a Bloom sketch of `ids(key)`: keeps
    * every true match (one-sided error) plus an `fpp` residue of false
    * positives. The regime: the id set is too big to broadcast exactly,
    * but a semi join would shuffle the far bigger fact side — a ~1 MB/M-id
    * sketch probes map-side inside the scan stage instead, so only
    * survivors reach any shuffle. This is Spark's own runtime-filter
    * machinery ([[graft.functions.BloomExprs]]) driven explicitly — the
    * optimizer's InjectRuntimeFilter only fires inside a joined plan,
    * not across separately-built pipeline stages like these. The sketch
    * is built DISTRIBUTED (partial blooms OR-merged) and only the final
    * bytes land on the driver. */
  def bloomPrefilter(fact: DataFrame, ids: DataFrame, key: String,
      expectedIds: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedIds > 0, s"expectedIds must be positive, got $expectedIds")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    graft.functions.BloomExprs.register(fact.sparkSession)
    // standard sizing: m = -n ln(p) / (ln 2)^2
    val numBits = math.max(64L, math.ceil(
      -expectedIds * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // xxhash64 is TYPE-sensitive (hash(5:int) != hash(5:bigint)); hash the
    // id side through the fact side's key type, the same coercion a plain
    // semi join would apply — otherwise a type mismatch silently drops
    // every true match
    val keyType = fact.schema(key).dataType
    val bloom = ids
      .select(call_function("bloom_filter_agg",
        xxhash64(col(key).cast(keyType)), lit(expectedIds), lit(numBits))
        .as("b"))
      .head().getAs[Array[Byte]](0)
    if (bloom == null) fact.limit(0) // empty id set keeps nothing
    else fact.filter(call_function("bloom_might_contain",
      lit(bloom), xxhash64(col(key))))
  }

  /** Exact semi join with the bloom prefilter in front: the sketch drops
    * non-matching fact rows map-side, the semi join then removes the fpp
    * residue — bit-identical results to a plain left_semi, with the
    * shuffle paying only for survivors. */
  def bloomPrefilteredSemiJoin(fact: DataFrame, ids: DataFrame, key: String,
      expectedIds: Long, fpp: Double = 0.01): DataFrame =
    bloomPrefilter(fact, ids, key, expectedIds, fpp)
      .join(ids.select(col(key)).distinct(), Seq(key), "left_semi")

  /** Collect a BOUNDED-by-construction frame (k-means centroids, PQ
    * codebooks — tables whose size is a function of parameters, never of
    * the data) into a driver-local relation. Downstream consumers then
    * read in-memory rows instead of re-executing the producing plan — the
    * deterministic alternative to `.persist()` for tiny trainer outputs:
    * no CacheManager entry to leak, no deep iterative plan to recompute,
    * and every broadcast of the result ships driver-local bytes.
    * Caller contract: `df` must be driver-scale (the call collects it). */
  def materializeLocal(df: DataFrame): DataFrame = {
    val rows: java.util.List[Row] = java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** Spread a frame that ITERATED map-side passes will re-scan (the
    * k-means trainers: each iteration's assignment kernel + partial
    * sums inherit the INPUT partitioning, so a mid-size corpus sitting
    * in one natural split trains serially however many cores sit idle
    * — measured 6× on a 64k-vector corpus, PLANS.md "Trainer
    * input-parallelism defect"). Gated
    * both ways, the repo's small-input convention: below `minBytes`
    * the shuffle costs more than it parallelizes (the x34 gate corpus
    * stays untouched), and a corpus-scale input already carries more
    * splits than cores so the condition never fires — at 100 TB this
    * is a no-op by construction. Regrouping rows only reorders
    * partial-sum folding, which the trainers' portable round-6
    * quantization absorbs (the [[graft.functions.VecSumAgg]] envelope;
    * all downstream oracles re-verified).
    *
    * The repartition is LAZY — each ACTION on the result re-runs it —
    * so callers driving several actions must persist the result while
    * they iterate ([[graft.operators.IvfAnn.trainCentroids]] /
    * [[ProductQuantizer.train]] do: persist when `ne` the input,
    * unpersist on exit). That pinned copy is the reason the trigger
    * demands at least 2× core underuse (`parts * 2 <= cores`), not mere
    * inequality: every trigger costs a SECOND materialized corpus-scale
    * frame in the caller, and below 2× the double-buffering costs more
    * than the reclaimed cores return. Measured at 8.2M vectors / 8 GB
    * heap: a 21-partition residual frame (callers already holding one
    * persisted copy) spread to 32 for a 1.5× gain pushed the persisted
    * working set past the unified pool and the next partial hash
    * aggregation died with a hard AGGREGATE_OUT_OF_MEMORY instead of
    * spilling; with the 2× gate the same ladder trains. The serial
    * pathologies this helper exists for (1-2 natural splits, 31 cores
    * idle) sit far below the 2× line and still spread.
    *
    * The size gate is evaluated FIRST so a
    * disqualified frame is returned without touching `.rdd` (under
    * AQE, `Dataset.rdd` materializes upstream query stages as a side
    * effect — only frames that already passed the size gate pay that
    * probe, and their persist makes it the one-time cost it reads as). */
  def spreadForCompute(df: DataFrame,
      minBytes: Long = graft.SizePolicy.SpreadMinBytes): DataFrame = {
    val bytes = try
      org.apache.spark.sql.graft.SessionOps.estimatedBytes(df)
    catch { case scala.util.control.NonFatal(_) => BigInt(-1) }
    val fired = bytes >= minBytes && {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      val parts = try df.rdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => cores }
      parts * 2 <= cores
    }
    graft.SizePolicy.logSpread("ScaleUtils.spreadForCompute",
      df.sparkSession, bytes, fired)
    if (fired) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
  }
}
