package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native vector kernels must be BIT-identical to the composable
  * zip_with + aggregate formulation they replaced (that identity is what
  * keeps the DuckDB-oracle hashes stable), in both codegen and interpreted
  * evaluation, over both float32 and float64 arrays.
  */
class VectorExprsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.Graft.setup(s)
    s
  }

  private def vecs(n: Int, dim: Int): Seq[(Long, Array[Float], Array[Float])] = {
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      (i.toLong,
        Array.fill(dim)(rnd.nextFloat() * 2 - 1),
        Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    }
  }

  private def df = {
    val s = spark
    import s.implicits._
    vecs(200, 64).toDF("id", "a", "b")
  }

  test("vec_dot / vec_norm / vec_cosine match the zip_with formulation bit-for-bit") {
    def zipDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(transform(a, _.cast("double")),
        transform(b, _.cast("double")), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x)
    val cmp = df.select(
      call_function("vec_dot", col("a"), col("b")).as("kd"),
      zipDot(col("a"), col("b")).as("zd"),
      call_function("vec_norm", col("a")).as("kn"),
      sqrt(zipDot(col("a"), col("a"))).as("zn"),
      call_function("vec_cosine", col("a"), col("b")).as("kc"),
      (zipDot(col("a"), col("b")) /
        (sqrt(zipDot(col("a"), col("a"))) * sqrt(zipDot(col("b"), col("b")))))
        .as("zc"))
    val bad = cmp.filter(col("kd") =!= col("zd") || col("kn") =!= col("zn") ||
      col("kc") =!= col("zc"))
    assert(bad.count() == 0) // exact equality, not tolerance
  }

  test("float and pre-cast double inputs produce identical results") {
    val viaDouble = df
      .select(col("id"), transform(col("a"), _.cast("double")).as("ad"),
        transform(col("b"), _.cast("double")).as("bd"))
      .select(col("id"), call_function("vec_cosine", col("ad"), col("bd")).as("c"))
    val viaFloat = df
      .select(col("id"), call_function("vec_cosine", col("a"), col("b")).as("c"))
    assert(viaFloat.join(viaDouble.withColumnRenamed("c", "cd"), Seq("id"))
      .filter(col("c") =!= col("cd")).count() == 0)
  }

  test("codegen and interpreted evaluation agree") {
    val s = spark
    try {
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = df.select(call_function("vec_cosine", col("a"), col("b")).as("c"))
        .collect().map(_.getDouble(0))
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val gen = df.select(call_function("vec_cosine", col("a"), col("b")).as("c"))
        .collect().map(_.getDouble(0))
      assert(interp.sameElements(gen))
    } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("null arrays and mismatched lengths yield null (matches zip_with form)") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f, 9.0f)),
      (2L, null.asInstanceOf[Array[Float]], Array(1.0f)),
      (3L, Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("id", "a", "b")
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val rows = d.select(col("id"),
          call_function("vec_dot", col("a"), col("b")).as("dp"),
          call_function("vec_cosine", col("a"), col("b")).as("cs")).collect()
        // ragged input is a data error → null, like the zip_with+aggregate form
        assert(rows.find(_.getLong(0) == 1L).get.isNullAt(1), mode)
        assert(rows.find(_.getLong(0) == 1L).get.isNullAt(2), mode)
        assert(rows.find(_.getLong(0) == 2L).get.isNullAt(1), mode)
        assert(rows.find(_.getLong(0) == 3L).get.getDouble(1) == 11.0, mode)
      } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("vec_nearest_code equals the HOF struct-argmin it replaced, " +
      "bit-for-bit, in both codegen modes") {
    val s = spark
    import s.implicits._
    // codebook: 16 codes of width 4; include an exact-duplicate pair
    // (codes 3 and 7 identical) so the min-code tie-break is exercised
    val rnd = new scala.util.Random(11)
    val cw = (0 until 16).map(c => if (c == 7) 3 else c)
      .map { c =>
        val r2 = new scala.util.Random(100 + c)
        Array.fill(4)(r2.nextDouble() * 2 - 1)
      }
    val flat = cw.flatten
    val rows = (0 until 300).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1)))
    val base = rows.toDF("id", "sv")
      .withColumn("flat", typedLit(flat))
      .withColumn("k", lit(16))
    val cbRows = cw.zipWithIndex
      .map { case (v, c) => (c, v.toSeq) }.toDF("code", "cv")
    // the exact expression form assignCodes used before the kernel
    val packed = cbRows.agg(
      collect_list(struct(col("code"), col("cv"))).as("cs")).head()
      .getSeq[org.apache.spark.sql.Row](0)
    val csLit = typedLit(packed.map(r =>
      (r.getInt(0), r.getSeq[Double](1))))
    def hof = base.withColumn("best", array_min(transform(csLit,
        c => struct(
          round(call_function("vec_dot", col("sv"), col("sv"))
            - lit(2.0) * call_function("vec_dot", col("sv"), c.getField("_2"))
            + call_function("vec_dot", c.getField("_2"), c.getField("_2")),
            6).as("d"),
          c.getField("_1").as("code")))))
      .select(col("id"), col("best.d").as("d"),
        col("best.code").cast("long").as("code"))
    def kern = base.withColumn("best", call_function("vec_nearest_code",
        col("sv"), col("flat"), col("k")))
      .select(col("id"), element_at(col("best"), 1).as("d"),
        element_at(col("best"), 2).cast("long").as("code"))
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val a = hof.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        val b = kern.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        assert(a == b, s"mode $mode diverged")
        // the duplicate codeword pair must always resolve to code 3
        assert(!a.exists(_._3 == 7L), "tie must keep the smallest code")
      } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("vec_nearest_cell equals the HOF struct-argmax it replaced — " +
      "raw and round-6 modes, NaN vectors, duplicate-centroid ties, " +
      "both codegen modes") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    // centroids: 8 of dim 16, with cids NOT starting at 0 (the
    // id-value-agnostic contract) and one exact-duplicate pair
    // (cids 104 and 101 identical — tie must resolve to 101)
    val cvs = (0 until 8).map(c => if (c == 4) 1 else c).map { c =>
      val r2 = new scala.util.Random(500 + c)
      Array.fill(16)(r2.nextDouble() * 2 - 1)
    }
    val cids = (0 until 8).map(c => 100L + c)
    val rows = (0 until 300).map { i =>
      // every 50th vector is a zero vector (NaN cosine against all)
      val a = if (i % 50 == 0) Array.fill(16)(0f)
        else Array.fill(16)(rnd.nextFloat() * 2 - 1)
      (i.toLong, a)
    }
    val base = rows.toDF("id", "v")
      .withColumn("cids", typedLit(cids))
      .withColumn("flat", typedLit(cvs.flatten.toSeq))
    val csLit = typedLit(cids.zip(cvs.map(_.toSeq)))
    def hof(scale: Int) = base.withColumn("best",
        array_max(transform(csLit, c => struct(
          (if (scale >= 0)
            round(call_function("vec_cosine", col("v"), c.getField("_2")),
              scale)
          else call_function("vec_cosine", col("v"), c.getField("_2")))
            .as("sim"),
          (-c.getField("_1")).as("ncid")))))
      .select(col("id"), (-col("best.ncid")).as("cell"))
    def kern(scale: Int) = base.withColumn("cell",
        call_function("vec_nearest_cell", col("v"), col("flat"),
          col("cids"), lit(scale)))
      .select(col("id"), col("cell"))
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY"); scale <- Seq(-1, 6)) {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val a = hof(scale).collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSeq
        val b = kern(scale).collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSeq
        assert(a == b, s"mode $mode scale $scale diverged")
        // the duplicate-centroid tie resolves to the smaller cid
        assert(!a.exists(_._2 == 104L), "tie must keep the smallest cid")
        // a zero vector's all-NaN sims tie everywhere → smallest cid
        assert(a.filter(_._1 % 50 == 0).forall(_._2 == 100L),
          "NaN rows must land deterministically on the smallest cid")
      } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("lazy rounding near-tie stress: raw distances/similarities " +
      "clustered within fractions of the 1e-6 quantum still match the " +
      "eager round() forms bit-for-bit — the regime the BigDecimal " +
      "skip must not perturb") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    // codewords = sv + eps with per-code eps magnitudes spanning
    // 1e-4..3e-3, so squared distances span ~1e-8..1e-5 — straddling
    // the round-6 quantum: many candidates merge under rounding (tie
    // → smallest code), others sit within one quantum of the
    // incumbent (the round-anyway band), others just past it (the
    // skip band). 64 codes × 200 rows sweeps all three regions.
    val dim = 8
    val sv0 = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val mags = Array(1e-4, 3e-4, 1e-3, 3e-3)
    val cw = (0 until 64).map { c =>
      val m = mags(c % mags.length)
      sv0.map(x => x + (rnd.nextDouble() * 2 - 1) * m)
    }
    val csLit = typedLit(cw.zipWithIndex.map { case (v, c) => (c, v.toSeq) })
    val rows = (0 until 200).map { i =>
      // rows perturb sv0 at the same scales, so each row's distance
      // ordering is a fresh near-tie configuration
      val m = mags(i % mags.length)
      (i.toLong, sv0.map(x => x + (rnd.nextDouble() * 2 - 1) * m))
    }
    val base = rows.toDF("id", "sv")
      .withColumn("flat", typedLit(cw.flatten.toSeq))
    def hofCode = base.withColumn("best", array_min(transform(csLit,
        c => struct(
          round(call_function("vec_dot", col("sv"), col("sv"))
            - lit(2.0) * call_function("vec_dot", col("sv"), c.getField("_2"))
            + call_function("vec_dot", c.getField("_2"), c.getField("_2")),
            6).as("d"),
          c.getField("_1").as("code")))))
      .select(col("id"), col("best.d").as("d"),
        col("best.code").cast("long").as("code"))
    def kernCode = base.withColumn("best", call_function(
        "vec_nearest_code", col("sv"), col("flat"), lit(64)))
      .select(col("id"), element_at(col("best"), 1).as("d"),
        element_at(col("best"), 2).cast("long").as("code"))
    // near-parallel centroids: cosines cluster within ~1e-7 of each
    // other near 1.0 — the argmax mirror of the same three regions
    val cidsLit = typedLit((0 until 64).map(c => 100L + c))
    val ccLit = typedLit((0 until 64).map(c => 100L + c).zip(cw.map(_.toSeq)))
    def hofCell = base.withColumn("best",
        array_max(transform(ccLit, c => struct(
          round(call_function("vec_cosine", col("sv"), c.getField("_2")), 6)
            .as("sim"),
          (-c.getField("_1")).as("ncid")))))
      .select(col("id"), (-col("best.ncid")).as("cell"))
    def kernCell = base.withColumn("cell",
        call_function("vec_nearest_cell", col("sv"), col("flat"),
          cidsLit, lit(6)))
      .select(col("id"), col("cell"))
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val a = hofCode.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        val b = kernCode.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        assert(a == b, s"nearest_code mode $mode diverged")
        // sanity: the configuration actually produced rounding merges
        // (multiple raw distances collapsing to one rounded value)
        assert(a.map(_._2).distinct.size < a.size,
          "stress data never merged under rounding — regenerate")
        val ca = hofCell.collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSeq
        val cb = kernCell.collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSeq
        assert(ca == cb, s"nearest_cell mode $mode diverged")
      } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("assignment-kernel width guards: a subvector shorter or longer " +
      "than the codeword width nulls out (never reads past the array), " +
      "and an empty flat with nonempty cids nulls out — both modes") {
    val s = spark
    import s.implicits._
    val flat = (0 until 16 * 4).map(_.toDouble / 10) // 16 codes, width 4
    val base = Seq(
      (1L, Array(0.1f, 0.2f, 0.3f, 0.4f)), // width matches: real code
      (2L, Array(0.1f, 0.2f)),             // SHORT: would read past end
      (3L, Array(0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f)) // LONG: truncation
    ).toDF("id", "sv")
      .withColumn("flat", typedLit(flat))
    val code = base.select(col("id"),
      call_function("vec_nearest_code", col("sv"), col("flat"), lit(16))
        .as("best"))
    val cell = base
      .withColumn("cids", typedLit(Seq(100L, 101L)))
      .withColumn("emptyFlat", typedLit(Seq.empty[Double]))
      .select(col("id"), call_function("vec_nearest_cell",
        col("sv"), col("emptyFlat"), col("cids"), lit(-1)).as("cell"))
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val byId = code.collect().map(r => r.getLong(0) -> r.isNullAt(1))
          .toMap
        assert(!byId(1L), s"$mode: matching width must produce a code")
        assert(byId(2L), s"$mode: short subvector must null out")
        assert(byId(3L), s"$mode: long subvector must null out")
        // nonempty cids + empty flat: 0 % k == 0 alone would admit it,
        // width would collapse to 0 and the smallest cid would return
        // silently — the explicit guard nulls instead
        assert(cell.collect().forall(_.isNullAt(1)),
          s"$mode: empty flat must null out")
      } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("vec_l2normalize equals the transform/aggregate HOF form " +
      "bit-for-bit — float and double inputs, null arrays, both codegen " +
      "modes; zero vectors yield IEEE NaN (where SQL Divide would raise " +
      "under ANSI)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    } :+ (999L, null.asInstanceOf[Array[Float]])
    val base = rows.toDF("id", "a")
    // zero-norm divergence pinned explicitly: the kernel follows IEEE
    // (0/0 = NaN), the HOF's SQL Divide raises under ANSI — no gate
    // corpus carries zero vectors, and NaN beats a crashed job
    val zeroRow = Seq((0L, Array.fill(8)(0f))).toDF("id", "a")
      .select(call_function("vec_l2normalize", col("a")).as("k"))
      .head().getSeq[Double](0)
    assert(zeroRow.forall(_.isNaN))
    def hof(c: org.apache.spark.sql.Column) =
      transform(c, x => x.cast("double") /
        sqrt(aggregate(c, lit(0.0d),
          (acc, y) => acc + y.cast("double") * y.cast("double"))))
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val cmp = base.select(col("id"),
          call_function("vec_l2normalize", col("a")).as("k"),
          hof(col("a")).as("h"))
        val got = cmp.collect()
        got.foreach { r =>
          if (r.isNullAt(1) || r.isNullAt(2))
            assert(r.isNullAt(1) == r.isNullAt(2), s"$mode: null mismatch")
          else {
            val k = r.getSeq[Double](1)
            val h = r.getSeq[Double](2)
            assert(k.length == h.length, s"$mode: length")
            // exact bit equality, NaN == NaN (zero-vector rows)
            k.zip(h).foreach { case (x, y) =>
              assert(java.lang.Double.doubleToLongBits(x) ==
                java.lang.Double.doubleToLongBits(y),
                s"$mode: $x != $y on id ${r.getLong(0)}")
            }
          }
        }
        // double input path too (pre-cast)
        val viaD = base.filter(col("a").isNotNull)
          .select(col("id"), transform(col("a"), _.cast("double")).as("ad"))
        val dk = viaD.select(col("id"),
          call_function("vec_l2normalize", col("ad")).as("k"),
          hof(col("ad")).as("h")).collect()
        dk.foreach { r =>
          r.getSeq[Double](1).zip(r.getSeq[Double](2)).foreach {
            case (x, y) =>
              assert(java.lang.Double.doubleToLongBits(x) ==
                java.lang.Double.doubleToLongBits(y), s"$mode double: $x != $y")
          }
        }
      } finally s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("non-vector input is rejected at analysis") {
    val s = spark
    import s.implicits._
    val d = Seq((1, "x")).toDF("i", "s")
    intercept[org.apache.spark.sql.AnalysisException] {
      d.select(call_function("vec_dot", col("s"), col("s"))).collect()
    }
  }
}
