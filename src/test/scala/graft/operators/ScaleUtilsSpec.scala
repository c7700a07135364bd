package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleUtilsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("materializeLocal returns an equal driver-local relation") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0)))
      .toDF("id", "v").repartition(3)
    val local = ScaleUtils.materializeLocal(df)
    assert(local.schema == df.schema)
    assert(local.collect().map(_.toString).sorted.toSeq ==
      df.collect().map(_.toString).sorted.toSeq)
    // the point of the call: consumers read local rows, not a re-executed
    // plan — the optimized plan must be a LocalRelation, with no scan
    val plan = local.queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"), plan)
  }

  test("spreadForCompute: tiny inputs come back UNTOUCHED (the same " +
      "frame), a narrow mid-size input spreads to defaultParallelism " +
      "with the row multiset intact, and an already-wide input no-ops") {
    val s = spark
    import s.implicits._
    // tiny (< 4 MB estimated): identical reference — zero plan change
    val tiny = (1 to 100).map(i => (i.toLong, i.toString)).toDF("a", "b")
    assert(ScaleUtils.spreadForCompute(tiny) eq tiny)
    // mid-size and narrow: range stats are 8 B/row, 1M rows = 8 MB,
    // forced into ONE slice — must spread to defaultParallelism
    val narrow = s.range(0L, 1000000L, 1L, 1).toDF("id")
    val spreaded = ScaleUtils.spreadForCompute(narrow)
    assert(spreaded.rdd.getNumPartitions ==
      s.sparkContext.defaultParallelism,
      spreaded.rdd.getNumPartitions.toString)
    assert(spreaded.agg(sum(col("id"))).head().getLong(0) ==
      999999L * 1000000L / 2)
    // already as wide as the core count: untouched
    val wide = s.range(0L, 1000000L, 1L,
      s.sparkContext.defaultParallelism).toDF("id")
    assert(ScaleUtils.spreadForCompute(wide) eq wide)
    // under 2x underuse (parts * 2 > cores): untouched — the callers
    // persist every spread copy, and a < 2x parallelism gain is not
    // worth double-buffering a corpus-scale frame (the 8.2M-vector OOM
    // in the scaladoc)
    val nearly = s.range(0L, 1000000L, 1L,
      s.sparkContext.defaultParallelism - 1).toDF("id")
    assert(ScaleUtils.spreadForCompute(nearly) eq nearly)
  }

  test("bucketed tables join without a shuffle exchange") {
    val dir = "/root/testdata/sf0.001"
    // suites share one JVM session: drop catalog entries AND their
    // managed locations from previous runs
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    ScaleUtils.writeBucketed(
      graft.Tables.lineitem(spark, dir), "li_bucketed", "l_orderkey", 8)
    ScaleUtils.writeBucketed(
      graft.Tables.orders(spark, dir)
        .withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_bucketed", "l_orderkey", 8)
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"), Seq("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("withGlobalIndex matches the global window and never single-partitions") {
    val dir = "/root/testdata/sf0.001"
    val ord = graft.Tables.orders(spark, dir)
    // oracle: the single-partition window formulation this replaces
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("o_orderkey"))
    val expected = ord
      .withColumn("idx", row_number().over(w).cast("long") - 1)
      .select(col("o_orderkey"), col("idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val indexed = ScaleUtils.withGlobalIndex(ord, Seq(col("o_orderkey")))
    val got = indexed.select(col("o_orderkey"), col("_gidx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
    // the sorted stage feeding zipWithIndex must be range-partitioned, not
    // funneled through one task
    val sortedPlan = ord.repartitionByRange(col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(sortedPlan.contains("Exchange rangepartitioning"), sortedPlan)
    assert(!sortedPlan.contains("SinglePartition"), sortedPlan)
    assert(!sortedPlan.contains("Window"), sortedPlan)
  }

  test("withGlobalIndex handles empty input and tie-broken duplicate keys") {
    val s = spark
    import s.implicits._
    // empty input → empty output, schema intact
    val empty = ScaleUtils.withGlobalIndex(
      Seq.empty[(Long, String)].toDF("k", "v"), Seq(col("k")))
    assert(empty.columns.toSeq == Seq("k", "v", "_gidx"))
    assert(empty.count() == 0)
    // duplicate primary keys with a tie-break column: the composite key is
    // unique, so the numbering is the deterministic lexicographic order
    val dup = Seq((1L, "b"), (1L, "a"), (0L, "z"), (2L, "a"), (1L, "a2"))
      .toDF("k", "v")
    val got = ScaleUtils.withGlobalIndex(dup, Seq(col("k"), col("v")))
      .select("k", "v", "_gidx")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((0L, "z", 0L), (1L, "a", 1L), (1L, "a2", 2L),
      (1L, "b", 3L), (2L, "a", 4L)))
  }

  test("salted join returns exactly the same result as a plain join") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(ord, Seq("l_orderkey"))
      .agg(count(lit(1)), round(sum(col("l_quantity") * col("o_totalprice")), 2))
      .head()
    val salted = ScaleUtils.saltedJoin(li, ord, "l_orderkey", salts = 7)
      .agg(count(lit(1)), round(sum(col("l_quantity") * col("o_totalprice")), 2))
      .head()
    assert(plain == salted)
  }

  test("bloom-prefiltered semi join is exact and actually prefilters") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.Tables.lineitem(spark, dir)
    // a selective id set: ~1/10 of the orders
    val ids = graft.Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("l_orderkey"))
    val exact = li.join(ids, Seq("l_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = ScaleUtils.bloomPrefilteredSemiJoin(li, ids, "l_orderkey",
      expectedIds = 1000)
      .select("l_orderkey", "l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == exact && got.nonEmpty)
    // the prefilter alone must keep every true match (no false negatives)
    // while dropping most of the fact table
    val pre = ScaleUtils.bloomPrefilter(li, ids, "l_orderkey",
      expectedIds = 1000)
    val preKeys = pre.select("l_orderkey").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(exact.map(_._1).subsetOf(preKeys))
    assert(pre.count() < li.count() / 2,
      "bloom should drop the bulk of the non-matching fact side")
    // empty id set → empty result, not a crash
    assert(ScaleUtils.bloomPrefilter(li, ids.limit(0), "l_orderkey",
      expectedIds = 10).count() == 0)
  }

  test("AQE skew-join splits the hot partition at runtime") {
    // scoped session clone: AQE on with thresholds low enough that the
    // synthetic hot key (100k rows on one key vs ~10 elsewhere) is seen
    // as skew at test scale
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    import org.apache.spark.sql.functions.{col => c}
    val left = s2.range(0, 110000)
      .select(when(c("id") < 100000, 7L).otherwise(pmod(c("id"), lit(1000L)))
        .as("k"), c("id").as("v"))
    val right = s2.range(0, 1000).select(c("id").as("k"), (c("id") * 2).as("w"))
    val joined = left.join(right, Seq("k"))
    // execute THIS QueryExecution (count() would plan a new one and leave
    // this plan un-finalized), then read the adaptive final plan
    assert(joined.collect().length == 110000) // every left row matches one
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true") &&
      finalPlan.contains("AQEShuffleRead skewed"),
      s"AQE must split the hot partition:\n${finalPlan.take(800)}")
  }
}
