package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `SPARK_GRAFT_CONF="k=v;k=v"` — extra/overriding confs, applied to
    * `builder` last (so static confs can be set too); a value may
    * itself contain `=`. Unset for driver runs (behavior unchanged); the
    * invariance sweep (tools/check_invariance.py) uses it to re-dump
    * every gate under adversarial partitioning (narrow shuffles, tiny
    * input splits, AQE off) and diff against the default-config dump: a
    * gate whose result depends on partition count or fold order
    * diverges here before it diverges on a 1000-executor cluster.
    * Malformed entries are a HARD error, not a silent skip: a typo'd
    * pair that silently fell back to defaults would make the sweep
    * compare two near-identical runs and report INVARIANT vacuously. */
  def withGraftConf(builder: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_CONF").fold(builder) { s =>
      s.split(';').map(_.trim).filter(_.nonEmpty).foldLeft(builder) {
        (b, kv) =>
          require(kv.contains("="),
            s"SPARK_GRAFT_CONF entry without '=': '$kv'")
          val Array(k, v) = kv.split("=", 2)
          // '=value' would reach Spark as an empty conf key and die with
          // an opaque error — reject it here with the intended message
          require(k.trim.nonEmpty,
            s"SPARK_GRAFT_CONF entry with empty key: '$kv'")
          b.config(k.trim, v.trim)
      }
    }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [nameRegex] — the optional regex restricts the
    // dump to matching query names (local targeted re-checks; the
    // driver always runs without it)
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter = if (args.length > 2) Some(args(2).r) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 123 queries generate >100 distinct codegen classes — keep the
      // codegen cache from cycling (static conf; Bench.scala doc)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = withGraftConf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the manifest is written BEFORE the per-gate loop: a run that
    // crashes mid-dump still declares the full gate set it intended, so
    // the invariance sweep (check_invariance.py) can detect a gate whose
    // dump is missing from BOTH compared runs instead of silently
    // comparing a shrunk set. A FILTERED run never shrinks an existing
    // manifest: a targeted re-dump into a full dump's outDir must leave
    // the other ~120 gates' manifest entries standing (clobbering them
    // would silently demote every other dumped gate to an unchecked
    // "rows-only" in check_oracle.py). But the FILTERED gates' own
    // entries must be refreshed from the CURRENT oracleSql: preserving
    // the old manifest wholesale would pair a fresh engine dump with
    // stale oracle text — spurious divergence, or worse a stale pass —
    // so merge-update: existing entries stand, filtered gates get
    // current SQL (or are REMOVED if the gate's oracle was deleted,
    // demoting it to rows-only rather than diffing against dead SQL).
    val manifestPath = Paths.get(s"$outDir/oracle_sql.json")
    val currentSql = SparkEntry.oracleSql.filter { case (k, _) =>
      nameFilter.forall(_.findFirstIn(k).isDefined) }
    val merged: Map[String, String] =
      if (nameFilter.isEmpty || !Files.exists(manifestPath)) currentSql
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(Files.readString(manifestPath))
        val existing = scala.collection.mutable.LinkedHashMap[String, String]()
        node.fields().forEachRemaining { e =>
          existing(e.getKey) = e.getValue.asText() }
        val filteredNames = SparkEntry.queries.keys.filter { k =>
          nameFilter.forall(_.findFirstIn(k).isDefined) }
        filteredNames.foreach(existing.remove)
        (existing ++ currentSql).toMap
      }
    val json = merged
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(manifestPath, json): Unit
    SparkEntry.queries
      .filter { case (name, _) =>
        nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
