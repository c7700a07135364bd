package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's relational operator inventory (SURVEY.md §2) re-expressed
  * Spark-first over the driver's synthetic tables. Each query name carries the
  * §2 operator id it demonstrates; every one has a DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes (100 TB design intent):
  *  - No driver-side collects anywhere; every plan is a pure DataFrame DAG.
  *  - Aggregations are hash-based with map-side partial aggregation (Spark
  *    default for algebraic aggs); joins left to Catalyst/AQE with explicit
  *    `broadcast()` only on provably-small sides (region/nation).
  *  - Deterministic total ORDER BY is applied at the very end of each query
  *    only because the correctness gate hash-compares row streams; at scale
  *    the sort is the caller's choice and everything before it is
  *    shuffle-minimal.
  */
object RelationalQueries {

  // ---------------------------------------------------------------- scans --

  /** S2: schema-merging union over heterogeneous stage files
    * (ref: pbf_file_reader.py:1078-1081 union_by_name=True). */
  def s2ScanUnionByName(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val a = li.filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val b = li.filter(col("l_linenumber") === 2)
      .select(col("l_orderkey"), col("l_linenumber"))
    a.unionByName(b.withColumn("l_quantity", lit(null).cast("double")),
        allowMissingColumns = true)
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").asc_nulls_first)
  }

  // -------------------------------------------------------------- filters --

  /** F1: kind/validity split (ref: pbf_file_reader.py:1546-1573 — nodes need
    * non-null coordinates; here: events of one kind with non-null payload). */
  def f1ValiditySplit(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_type") === "click" && col("value").isNotNull)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        round(col("value"), 4).as("value_r"))
      .orderBy("event_id")

  /** F2: tag-filter predicate shape — positive clauses OR-ed, negative
    * AND-ed (ref: pbf_file_reader.py:2518-2564). */
  def f2PredicateCompile(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter((col("l_returnflag") === "A" || col("l_returnflag") === "N") &&
        !(col("l_linestatus") === "F") && col("l_quantity") >= 30)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_linestatus"))
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")

  /** F5: user-supplied SQL predicate string applied via expr()
    * (ref: pbf_file_reader.py:1585-1605 custom_sql_filter). */
  def f5CustomSqlFilter(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .filter(expr("o_orderstatus = 'O' AND o_totalprice > 150000.0"))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price_r"))
      .orderBy("o_orderkey")

  /** F6: explicit id-list filter, per-kind clauses OR-ed
    * (ref: pbf_file_reader.py:2633-2648). */
  def f6IdFilter(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .filter(col("o_orderkey").isin(1L, 7L, 32L, 69L, 134L, 322L, 517L, 1000L)
        || col("o_custkey").isin(5L, 13L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")

  /** F7: bbox prefilter — conjunctive BETWEEN ranges
    * (ref: pbf_file_reader.py:1756-1762). */
  def f7BetweenPrefilter(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_quantity").between(10, 20) &&
        col("l_extendedprice").between(10000, 20000))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("l_returnflag")

  /** F9: non-empty-payload filter (ref: pbf_file_reader.py:1592-1593
    * `tags IS NOT NULL AND cardinality(tags) > 0`). */
  def f9NonEmpty(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .orderBy("lang")

  // ---------------------------------------------------------------- joins --

  /** J1: semi join restricting a big table by an id-set
    * (ref: pbf_file_reader.py:1670 et al. — used ~14×). */
  def j1SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = orders(s, dir).filter(col("o_totalprice") > 200000)
      .select(col("o_custkey").as("c_custkey"))
    customer(s, dir)
      .join(bigOrders, Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** J2: double-anti ref-closure — an order is valid iff NO line item
    * references a missing part (ref: pbf_file_reader.py:2462-2476). */
  def j2AntiClosure(s: SparkSession, dir: String): DataFrame = {
    val validParts = part(s, dir).filter(col("p_size") > 10)
      .select(col("p_partkey").as("l_partkey"))
    val missingRefs = lineitem(s, dir)
      .join(validParts, Seq("l_partkey"), "left_anti")
      .select(col("l_orderkey")).distinct()
    orders(s, dir)
      .join(missingRefs.withColumnRenamed("l_orderkey", "o_orderkey"),
        Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** J4: inner equi join on id (ref: pbf_file_reader.py:2854-2863); small
    * dimension side broadcast explicitly. */
  def j4InnerJoin(s: SparkSession, dir: String): DataFrame =
    nation(s, dir)
      .join(broadcast(region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")

  /** J5: 3-way chained inner join — the shuffle-heavy core
    * (ref: pbf_file_reader.py:3054-3067 way-refs × nodes). */
  def j5ThreeWayJoin(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("c_mktsegment")

  /** J8: anti join on a composite (two-column) key
    * (ref: pbf_file_reader.py:3361-3370). */
  def j8AntiTwoKey(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val excluded = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"))
    li.join(excluded, Seq("l_orderkey", "l_linenumber"), "left_anti")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
  }

  // ----------------------------------------------------------------- aggs --

  /** Q1-style wide aggregation (map-side partial agg; baseline headline). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A1: order-preserving list aggregation — rebuild a sequence from
    * (group, idx, value) rows (ref: pbf_file_reader.py:3176-3179
    * `list(point ORDER BY ref_idx)`). Spark idiom: sort_array over
    * collect_list of (idx, value) structs — exact, shuffle-once. */
  def a1OrderedListAgg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("l_linenumber").as("i"),
            col("l_partkey").as("p")))),
          x => x.getField("p").cast("string")),
        ",").as("parts_seq"))
      .orderBy("l_orderkey")

  /** A2+A3: bool_or / bool_and per group
    * (ref: pbf_file_reader.py:3426-3429, 3452-3463). */
  def a2a3BoolAggs(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(bool_or(col("l_quantity") > 45).as("any_large"),
        bool_and(col("l_discount") <= lit(0.1)).as("all_low_disc"))
      .orderBy("l_returnflag")

  /** A5: any_value alongside other aggs — made deterministic via min
    * (SURVEY §7.4 risk 5: the reference's any_value is nondeterministic;
    * we pin an ordering). */
  def a5FirstValue(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderkey")).as("first_order"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")

  /** A7: extent aggregation — min/max bounds
    * (ref: pbf_file_reader.py:4144-4157 ST_Extent_Agg). */
  def a7ExtentAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(round(min(col("value")), 4).as("min_v"),
        round(max(col("value")), 4).as("max_v"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .orderBy("event_type")

  /** A8: distinct projection (ref: pbf_file_reader.py:1685-1692). */
  def a8Distinct(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus")).distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** A9: conditional count — COUNT_IF per group
    * (ref: pbf_file_reader.py:3991-3998 empty-column detection). */
  def a9CountIf(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(when(col("n_chars") > 500, 1)).as("long_docs"),
        count(lit(1)).as("all_docs"))
      .orderBy("lang")

  /** Beyond-reference: ROLLUP grouping sets (subtotals + grand total). */
  def axRollup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Beyond-reference: exact interpolated percentiles per group. */
  def axPercentiles(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
      .orderBy("l_returnflag")

  /** Beyond-reference: the halfway-grid RESIDUE gate. Each case is an
    * integer ratio whose exact value sits EXACTLY ON the k-decimal
    * halfway grid (num·10^k/den ≡ den/2 mod den, den = 2^a·5^b) — the
    * r12 x20 defect class, where `round(double, k)` on two engines can
    * legitimately disagree. The values flow through the SAME
    * [[graft.functions.ExactRound.ratio]] helper the d11/d14/x32 gates
    * use, and the oracle runs the mirrored HUGEINT expression — so the
    * driver's DuckDB compare re-proves every round that both engines
    * land the identical double ON the residue itself, not merely near
    * it. (ExactRoundSpec additionally pins the half-up decisions and
    * property-checks the helper against exact BigDecimal division.) */
  /** dx's 1-partition session clone, one per caller session (weak-keyed
    * so a dropped session releases its clone). */
  private val dxClones = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** The constructed (never persisted) dx frame per session: the gate
    * reads nothing from `dir`, so the FRAME is session-constant — but
    * every action on it re-executes the full plan, kernels included;
    * only the construction + analysis cost (~0.3 s of driver work on a
    * 6-way union of exact-decimal expressions) is amortized. */
  private val dxFrames = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, DataFrame]())

  def dxHalfwayGrid(s0: SparkSession, dir: String): DataFrame = {
    val hit = dxFrames.get(s0)
    if (hit != null) return hit
    // constants-only gate: every sub-corpus is an engineered literal
    // (nothing reads `dir`), so the caller's 32-wide shuffles are pure
    // scheduling floor — ~0.7 s of empty tasks around ~100 rows. The
    // build-scoped clone (the IvfPq/OsmPipeline small-input convention)
    // sizes the whole union to ONE shuffle partition without mutating
    // the caller's session; values are exact integer kernels, so the
    // width change cannot move a single bit (hash-held at both SFs).
    val s = {
      val cached = dxClones.get(s0)
      if (cached != null) cached
      else {
        val c = org.apache.spark.sql.graft.SessionOps.cloneSession(s0)
        c.conf.set("spark.sql.shuffle.partitions", "1")
        c.conf.set("spark.sql.adaptive.enabled", "false")
        // each implicit BroadcastExchange is its own eagerly-awaited
        // driver job; at 1 shuffle partition a shuffle join is a single
        // one-task stage inside the ONE job instead — fewer sequential
        // scheduling round-trips (explicit broadcast() hints in the
        // production operators are unaffected, as they should be)
        c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dxClones.put(s0, c): Unit
        c
      }
    }
    import s.implicits._
    // (case, num, den, k): exact num/den = ...5 at the k-th decimal
    //   33·10^4/32   = 10312.5   → half-up 1.0313   (the d14 shape)
    //   1·10^6/128   =  7812.5   → half-up 0.007813 (the d11/x32 shape)
    //   161·10^4/32  = 50312.5   → half-up 5.0313   (integer part > 1)
    val ratioCases =
      Seq(("ratio_33_32_s4", 33L, 32L, 4L),
          ("ratio_1_128_s6", 1L, 128L, 6L),
          ("ratio_161_32_s4", 161L, 32L, 4L))
        .toDF("case_id", "num", "den", "k")
        .select(col("case_id"), col("num"), col("den"), col("k"),
          when(col("k") === 4,
            graft.functions.ExactRound.ratio(col("num"), col("den"), 4))
            .otherwise(
              graft.functions.ExactRound.ratio(col("num"), col("den"), 6))
            .as("value"))
    // the portable-trainer mean residue: a 2-row cell averaging {2, 3}
    // micro-units sits EXACTLY ON 2.5 micro — the MicroMeanAgg kernel
    // (the x34 Lloyd's update step) must half-away-from-zero it
    // identically to the oracle's HUGEINT mirror, both signs
    val meanCases =
      Seq(("mean_pos_half_micro", Seq(2.0e-6)),
          ("mean_pos_half_micro", Seq(3.0e-6)),
          ("mean_neg_half_micro", Seq(-2.0e-6)),
          ("mean_neg_half_micro", Seq(-3.0e-6)))
        .toDF("case_id", "v")
        .groupBy(col("case_id"))
        .agg(graft.functions.MicroMeanAgg.vec_mean_micro(col("v")).as("m"))
        .select(col("case_id"), lit(0L).as("num"), lit(0L).as("den"),
          lit(6L).as("k"), element_at(col("m"), 1).as("value"))
    // the residue through the PRODUCTION eval path: a 1-query fixture
    // with n_rel = 128 and exactly one hit puts recall = 1/128 —
    // 7812.5 micro, dead ON the halfway grid — through the real
    // [[graft.operators.RetrievalOps.evalRanking]] (not the helper in
    // isolation); the oracle computes the same exact-integer half-up
    val evalCase = {
      // ranked: one query, docs 1..10 at ranks 1..10; qrels: 127
      // never-retrieved relevant ids + doc 3 (the one hit, rank 3)
      val ranked = s.range(1, 11, 1, 1)
        .select(lit(7L).as("qid"), col("id").as("rank"),
          col("id").as("doc"))
      val qrels = s.range(1000, 1127, 1, 1)
        .select(lit(7L).as("qid"), col("id").as("doc"))
        .unionByName(Seq((7L, 3L)).toDF("qid", "doc"))
      graft.operators.RetrievalOps
        .evalRanking(ranked, "qid", "rank", "doc", qrels, "qid", "doc")
        .select(lit("eval_recall_1_128").as("case_id"),
          col("hits").as("num"), col("n_rel").as("den"), lit(6L).as("k"),
          col("recall").as("value"))
    }
    // the residue through the PRODUCTION rrf path (the r13 hand-proof
    // REFUTED by ResidueFreeSpec: 1/(60+r) IS halfway-reachable):
    // doc 68 one-sided rank 68 → 1/128 = 7812.5 micro, doc 268
    // one-sided rank 580 → 1/640 = 1562.5 micro, doc 4 two-sided
    // ranks (4,68) → 192/8192 = 3/128 = 23437.5 micro — all dead ON
    // the grid; docs 204 (1/64, on-grid) and the other 97 one-sided
    // docs are off-grid controls. rrfFuse must half-up them all
    // identically to the oracle's HUGEINT mirror.
    val rrfCases = {
      val a = s.range(1, 101, 1, 1).select(col("id").as("doc"),
        col("id").as("rank"))
      val b = Seq((204L, 4L), (4L, 68L), (268L, 580L)).toDF("doc", "rank")
      val fused = graft.operators.RetrievalOps.rrfFuse(a, b, "doc", k = 110)
      // the oracle-mirror num/den are pure functions of the ENGINEERED
      // fixture (system A ranks doc d at rank d for d ≤ 100; system B
      // holds exactly three known pairs), so they derive from `doc` by
      // expression — two back-joins against the inputs added two plan
      // levels to recompute literals the fixture already states
      val ra = when(col("doc").between(1L, 100L), col("doc"))
      val rb = when(col("doc") === 204L, lit(4L))
        .when(col("doc") === 4L, lit(68L))
        .when(col("doc") === 268L, lit(580L))
      fused
        .select(
          concat(lit("rrf_doc_"),
            lpad(col("doc").cast("string"), 3, "0")).as("case_id"),
          when(ra.isNotNull && rb.isNotNull, lit(120L) + ra + rb)
            .otherwise(lit(1L)).as("num"),
          when(ra.isNotNull && rb.isNotNull,
            (lit(60L) + ra) * (lit(60L) + rb))
            .otherwise(lit(60L) + coalesce(ra, rb)).as("den"),
          lit(6L).as("k"), col("rrf").as("value"))
    }
    // the residue through the PRODUCTION BM25 path (the r13 hand-proof
    // for BM25 equally REFUTED by ResidueFreeSpec's generative sweep):
    // an 80-doc corpus with S = 2192 total tokens where the needle term
    // has df=1, tf=1, dl=23 puts the per-term contribution c =
    // 7667616/135168 = 56.7265625 — 56726562.5 micro, dead ON the
    // halfway grid. bm25Scores' exact integer kernel must half-up it
    // identically to the oracle's HUGEINT mirror.
    val bm25Case = {
      val needleDoc = ("needle" +: Seq.fill(22)("w")).mkString(" ")
      val filler27 = Seq.fill(27)("w").mkString(" ")
      val filler63 = Seq.fill(63)("w").mkString(" ")
      val docs = s.range(0, 80, 1, 1).select(col("id").as("doc_id"),
        when(col("id") === 0, lit(needleDoc))
          .when(col("id") === 79, lit(filler63))
          .otherwise(lit(filler27)).as("text"))
      graft.operators.RetrievalOps
        .bm25Scores(docs, "doc_id", "text", Seq("needle"))
        .select(lit("bm25_needle_halfway").as("case_id"),
          lit(7667616L).as("num"), lit(135168L).as("den"),
          lit(6L).as("k"), col("bm25").as("value"))
    }
    // single-partition in-partition sort: the same total order as
    // orderBy (one partition) without a range-partitioner SAMPLE job —
    // 109 rows never need a second job to pick split points
    val out = ratioCases.unionByName(meanCases).unionByName(evalCase)
      .unionByName(rrfCases).unionByName(bm25Case)
      .coalesce(1).sortWithinPartitions("case_id")
    dxFrames.put(s0, out): Unit
    out
  }

  /** Beyond-reference: HLL approximate distinct (sketch differs per
    * engine — rows-only check). */
  def axApproxDistinct(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")

  /** Beyond-reference: PIVOT — long-to-wide reshaping (the relational
    * core of the reference's T1 explode-tags-to-columns). Spark's
    * `pivot(col, values)` with explicit values stays a single pass
    * (no driver-side distinct-collect); counts are coalesced to 0 so the
    * output matches the SQL FILTER formulation exactly. */
  def axPivot(s: SparkSession, dir: String): DataFrame = {
    val classified = documents(s, dir).select(col("lang"),
      TextQueries.qualityBucket.as("q"))
    classified.groupBy(col("lang"))
      .pivot("q", Seq("ok", "punct_heavy", "short"))
      .count()
      .select(col("lang"),
        coalesce(col("ok"), lit(0L)).as("n_ok"),
        coalesce(col("punct_heavy"), lit(0L)).as("n_punct_heavy"),
        coalesce(col("short"), lit(0L)).as("n_short"))
      .orderBy("lang")
  }

  // -------------------------------------------------------------- windows --

  /** W1: global row_number chunking into bounded groups
    * (ref: pbf_file_reader.py:3037-3045). Scale-safe: NO global Window —
    * [[ScaleUtils.withGlobalIndex]] range-partitions + sorts in-partition
    * (a total order across partitions) and numbers with per-partition
    * offsets (zipWithIndex), so every stage is fully parallel. Output is
    * identical to `floor((row_number() over (order by o_orderkey) - 1)
    * / 1000)` because o_orderkey is unique. */
  def w1GlobalChunk(s: SparkSession, dir: String): DataFrame =
    ScaleUtils.withGlobalIndex(orders(s, dir), Seq(col("o_orderkey")))
      .withColumn("grp", floor(col("_gidx") / 1000))
      .groupBy(col("grp")).agg(count(lit(1)).as("cnt"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("grp")

  /** W2: partitioned row_number — number members within a group, with a
    * deterministic ordering pinned (SURVEY §7.4 risk 5)
    * (ref: pbf_file_reader.py:3436-3438). */
  def w2PartitionedRowNumber(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      // One range exchange serves BOTH the window's clustering and the
      // output's total order (RangePartitioning on the key satisfies the
      // window's ClusteredDistribution; equal keys share one partition
      // and partitions are key-ordered, so sortWithinPartitions below
      // yields the identical global (l_orderkey, rn) order the old
      // final orderBy produced). Two effects vs window-then-orderBy:
      // the hash+range exchange pair collapses to one, and the
      // WindowGroupLimit partial no longer sorts the whole scan on the
      // map side — at bench scale lineitem.parquet is a single split,
      // so that partial sort serialized ~600k rows on one core with the
      // rest idle (the x33 straggler mechanism; guide §2.4/§2.6).
      .repartitionByRange(col("l_orderkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))))
      .filter(col("rn") <= 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("rn").cast("long").as("rn"))
      .sortWithinPartitions("l_orderkey", "rn")

  /** W3: QUALIFY-style dedup — keep one row per key by window rank
    * (ref: pbf_file_reader.py:1082-1086). */
  def w3QualifyDedup(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("user_id")

  /** Beyond-reference: frame-bounded running aggregation per key (rows
    * between unbounded preceding and current). */
  def wxRunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .filter(col("user_id") < 50)
      .withColumn("running_v", round(sum(col("value")).over(w), 4))
      .select(col("user_id"), col("event_id"), col("running_v"))
      .orderBy("user_id", "event_id")
  }

  /** Beyond-reference: batch sessionization — gap-based session ids, the
    * batch twin of the streaming sessionizer
    * (EventStreams.flatMapGroupsWithState). One window pass: a new-session
    * flag where the gap to the previous event exceeds 30 min (or no
    * previous event), then a running sum of flags numbers the sessions.
    * ONE shuffle on user_id; both window functions share the same sort. */
  def wxSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
    events(s, dir)
      .filter(col("user_id") < 50)
      .withColumn("is_new", when(gap.isNull || gap > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("session_seq"))
      .orderBy("user_id", "event_id")
  }

  /** Batch tumbling-window aggregation via window() — the batch twin of
    * the streaming surface (graft.streaming.EventStreams.tumblingCounts). */
  def e1WindowBatch(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_v"))
      .orderBy("w_start", "event_type")

  /** Beyond-reference: lead/lag — inter-event gap seconds per user. */
  def wxLagGap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .filter(col("user_id") < 50)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_s",
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))))
      .select(col("user_id"), col("event_id"), col("gap_s"))
      .orderBy("user_id", "event_id")
  }

  /** Beyond-reference: AS-OF join — for each left event, the latest right
    * value at or before its timestamp. Spark has no native as-of join;
    * the scalable composition is union-tag + one partitioned window:
    * tag right rows side=0 / left side=1, sort (ts, side) within each key
    * partition, and carry the last non-null right value forward
    * (`last(ignoreNulls)` over unbounded-preceding). ONE shuffle of
    * left+right on the join key — no range join, no per-row probe — and
    * ties resolve inclusively (right sorts before left at equal ts).
    * Right-side (key, ts) duplicates are pre-aggregated so the pick is
    * deterministic. Oracle: DuckDB's native ASOF LEFT JOIN. */
  def wxAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val left = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val right = ev.filter(col("event_type") === "view" && col("value").isNotNull)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("v"))
    val tagged = left
      .select(col("user_id"), col("ts"), lit(1).as("side"), col("event_id"),
        lit(null).cast("double").as("v"))
      .unionByName(right.select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("v")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_v", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        round(col("asof_v"), 4).as("asof_v"))
      .orderBy("event_id")
  }

  /** Beyond-reference: RANGE (interval) join — pair each error event with
    * the same user's clicks within ±1 h (wide enough that the gate query
    * has matches at every test scale — a 0-row gate verifies nothing).
    * The naive form is an inequality join (quadratic per user); the
    * scalable decomposition buckets time into window-sized cells, explodes
    * each left row into its 3 candidate buckets, equi-joins on
    * (key, bucket) — hash join, shuffle on a high-cardinality composite
    * key — and applies the exact |Δt| ≤ win filter on the bounded
    * candidate set. Oracle: DuckDB's inequality join. */
  def jxRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val win = 3600L
    def epoch(c: org.apache.spark.sql.Column) = unix_timestamp(c)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"),
        col("ts").as("err_ts"), floor(epoch(col("ts")) / win).as("b"))
      .select(col("user_id"), col("err_id"), col("err_ts"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("bucket"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"),
        floor(epoch(col("ts")) / win).as("bucket"))
    errors.join(clicks, Seq("user_id", "bucket"))
      .withColumn("gap_s", epoch(col("err_ts")) - epoch(col("click_ts")))
      .filter(abs(col("gap_s")) <= win)
      .select(col("err_id"), col("click_id"), col("gap_s"))
      .orderBy("err_id", "click_id")
  }

  // -------------------------------------------------------- sorts / topk --

  /** O1: deterministic full ordering (ref: pbf_file_reader.py:2343). */
  def o1OrderBy(s: SparkSession, dir: String): DataFrame =
    supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .orderBy("s_suppkey")

  /** Beyond-reference: top-k with deterministic tie-break (TakeOrderedAndProject
    * — no full sort/shuffle of the input at scale). */
  def o2TopK(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price_r"))
      .orderBy(col("price_r").desc, col("o_orderkey").asc)
      .limit(20)

  // ------------------------------------------------------------- set ops --

  /** U1: UNION with dedup (ref: pbf_file_reader.py:1693-1703). */
  def u1UnionDistinct(s: SparkSession, dir: String): DataFrame = {
    val a = orders(s, dir).filter(col("o_totalprice") > 250000)
      .select(col("o_custkey").as("custkey"))
    val b = customer(s, dir).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))
    a.union(b).distinct().orderBy("custkey")
  }

  /** U2: UNION ALL (ref: pbf_file_reader.py:3379-3385). */
  def u2UnionAll(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val a = li.filter(col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), lit("small").as("bucket"))
    val b = li.filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), lit("large").as("bucket"))
    a.unionByName(b)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")
  }

  /** Beyond-reference: INTERSECT / EXCEPT as real operators (the reference
    * emulates both with anti joins, SURVEY §2.7). Spark plans them as
    * semi/anti hash joins over distinct inputs — same scale shape as the
    * emulation, declared declaratively. Customers with a high-value order
    * split by whether they ALSO placed an urgent one. */
  def u4IntersectExcept(s: SparkSession, dir: String): DataFrame = {
    val high = orders(s, dir).filter(col("o_totalprice") > 250000)
      .select(col("o_custkey").as("custkey"))
    val urgent = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    high.intersect(urgent).withColumn("tag", lit("both"))
      .unionByName(high.except(urgent).withColumn("tag", lit("high_only")))
      .orderBy("custkey", "tag")
  }

  // -------------------------------------------------------------- unnest --

  /** G1: positional unnest of parallel arrays → rows with index
    * (ref: pbf_file_reader.py:1660-1677 UNNEST(refs) + UNNEST(range(len))).
    * Spark: posexplode — exact equivalent. */
  def g1Posexplode(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        posexplode(split(col("p_type"), " ")).as(Seq("pos", "token")))
      .select(col("p_partkey"), col("pos").cast("long").as("pos"), col("token"))
      .orderBy("p_partkey", "pos")

  /** G3: distinct-values explode (ref: pbf_file_reader.py:1502-1509
    * `SELECT DISTINCT UNNEST(map_keys(tags))`). */
  def g3DistinctExplode(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(explode(split(col("p_type"), " ")).as("token"))
      .distinct()
      .orderBy("token")

  // ---------------------------------------------- scalar / derived column --

  /** T3/F-string surface: CASE-chain derived columns + string concat
    * feature-id construction (ref: pbf_file_reader.py:2857 `'node/' || id`,
    * :3811-3946 group CASE chains). */
  def t3CaseChain(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .select(
        concat(lit("customer/"), col("c_custkey")).as("feature_id"),
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "regular")
          .otherwise("premium").as("tier"),
        col("c_mktsegment"))
      .orderBy("feature_id")

  /** Beyond-reference: semi-structured extraction — pull typed values out
    * of a JSON string column (`get_json_object` is codegen'd path
    * evaluation; no UDF, no full JSON parse into a struct). The shape
    * every event/props pipeline needs before it can aggregate. */
  def fxJsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(when(col("k") >= 50, 1)).as("high_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy("event_type")

  /** Scalar-function surface: round (the 7-decimal coordinate contract,
    * ref: pbf_file_reader.py:2859), floor, LIKE, starts_with, length. */
  def fxScalarFuncs(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .filter(col("p_name").like("%green%") ||
        col("p_type").startsWith("STANDARD"))
      .select(col("p_partkey"),
        round(col("p_retailprice") / lit(7.0), 7).as("price7"),
        floor(col("p_retailprice")).as("price_floor"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy("p_partkey")
}
