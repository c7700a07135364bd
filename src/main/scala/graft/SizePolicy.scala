package graft

import org.apache.spark.sql.{RuntimeConfig, SparkSession}

/** The engine's size-driven execution choices, in one place: the
  * small-input session tuning (AQE off, input-sized shuffles) that the
  * OSM conversion, the IVF-PQ build and the bench apply, and the floors
  * below which a spread repartition is skipped. Each caller measures its
  * own input bytes (file listing, directory walk, or Catalyst's plan
  * estimate) and hands them here; every decision is logged as one INFO
  * line, `SizePolicy caller=<op> bytes=<n> aqe=<on|off> width=<n>` or
  * `... spread=<fired|skipped>`. */
object SizePolicy {

  /** Inputs below this size run with AQE off and input-sized shuffles.
    * The conversion DAG has ~30 joins; AQE materializes every query
    * stage (and every runtime broadcast) as its own driver-scheduled job
    * with a fixed ~100-200 ms cost — ~10 s of pure scheduling on a 3 MB
    * extract (measured: 79 stages / 53 broadcast jobs with AQE vs 32
    * stages without; 13.2 s vs 8.3 s warm). Past ~256 MB the
    * data-proportional work dwarfs that fixed cost and AQE's runtime
    * re-planning (skew splits, partition coalescing, SMJ→BHJ) is worth
    * buying — exactly the regime a 100 TB cluster run is in, so big
    * inputs keep AQE on. */
  val SmallInputBytes: Long = 256L * 1024 * 1024

  /** Default floor of [[graft.operators.ScaleUtils.spreadForCompute]],
    * calibrated for O(1)-per-row kernels. */
  val SpreadMinBytes: Long = 4L * 1024 * 1024

  /** Spread floor for O(text)-per-row kernels (the gram explode of
    * [[graft.operators.CorpusOps]]'s spread, per-char tokenizers, the
    * exact vector near-duplicate path). Below it the natural partitioning
    * is kept: the repartition's fixed stage cost exceeds what serializing
    * the explode of this much text on few cores can lose. The threshold
    * is LOW on purpose — asymmetric risk, measured (PLANS.md, "Spread
    * threshold pinned": single-split replicas of the sf0.1 corpus): at
    * 1.2 MB compressed the serial explode already costs 2.9 s vs 0.5 s
    * spread, at 3.2 MB 11.0 s vs 1.5 s (7×) — the blowup's work is
    * text × k and parquet compression UNDERSTATES repetitive text badly
    * (the 3.2 MB replica is ~88 MB raw), so erring high serializes
    * without bound while erring low wastes one sub-second shuffle.
    * Deliberately not [[SmallInputBytes]] — that calibrates AQE
    * stage-materialization overhead against input SCAN cost, unrelated to
    * explode work.
    *
    * 256 KB (was 1 MB): the r13 calibration measured the repartition at
    * ~0.5 s of a 1.3 s gate on the 0.6 MB sf0.1 corpus, but that cost
    * was the era's 32-wide-shuffle scheduling floor, not the data
    * round-trip — re-measured r16 (qstages census, post shuffle-width
    * sizing): x13's gram explode ran as ONE 440 ms task with 31 cores
    * idle while the whole spread costs ~100 ms. */
  val TextSpreadMinBytes: Long = 256L * 1024

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def isSmall(bytes: Long): Boolean =
    bytes >= 0 && bytes < SmallInputBytes

  private def aqe(conf: RuntimeConfig): String =
    if (conf.get("spark.sql.adaptive.enabled", "true") == "true") "on"
    else "off"

  /** Shuffle width for a small input: ~4 MB per reduce partition, floor
    * 4 for parallelism, never above `callerWidth`. Without AQE's
    * partition coalescing this sizes the shuffles to the input (measured
    * 5.4 s vs 7.9 s warm on monaco at 4 vs 32 partitions). */
  def width(bytes: Long, callerWidth: Long): Long =
    math.max(4L, math.min(callerWidth, bytes / (4L * 1024 * 1024) + 1))

  /** Apply the small-input settings to `conf` in place when
    * `0 <= bytes < SmallInputBytes` (-1 means unknown and is treated as
    * big). Only for a session the caller owns outright; operators use
    * [[sessionFor]]. */
  def tune(caller: String, conf: RuntimeConfig, bytes: Long): Unit = {
    if (isSmall(bytes)) {
      conf.set("spark.sql.adaptive.enabled", "false")
      val callerWidth = try
        conf.get("spark.sql.shuffle.partitions", "200").toLong
      catch { case scala.util.control.NonFatal(_) => 200L }
      conf.set("spark.sql.shuffle.partitions",
        width(bytes, callerWidth).toString)
    }
    log.info(s"SizePolicy caller=$caller bytes=$bytes aqe=${aqe(conf)} " +
      s"width=${conf.get("spark.sql.shuffle.partitions", "200")}")
  }

  /** The session `caller`'s work should run on: `spark` itself for a big
    * or unknown input, else a [[org.apache.spark.sql.graft.SessionOps.cloneSession]]
    * clone (same SparkContext and cache, own SQLConf) with the
    * small-input settings, so the caller's session is never mutated. */
  def sessionFor(caller: String, spark: SparkSession,
      bytes: Long): SparkSession = {
    val s =
      if (isSmall(bytes)) org.apache.spark.sql.graft.SessionOps.cloneSession(spark)
      else spark
    tune(caller, s.conf, bytes)
    s
  }

  /** Log one spread decision (the caller owns the trigger). */
  def logSpread(caller: String, spark: SparkSession, bytes: BigInt,
      fired: Boolean): Unit =
    log.info(s"SizePolicy caller=$caller bytes=$bytes aqe=${aqe(spark.conf)} " +
      s"spread=${if (fired) "fired" else "skipped"}")
}
