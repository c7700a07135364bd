package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for the embedding-similarity family (x1, x5-x7).
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — is
  * correct but slow at scale: Catalyst evaluates higher-order-function
  * lambdas interpreted, per element, with a freshly allocated intermediate
  * array per row pair; a per-bucket self-join over 64-dim embeddings spends
  * most of its CPU inside that lambda machinery. These expressions run the
  * same left-to-right float math as one fused whole-stage-codegen'd loop
  * over the raw ArrayData (no intermediate array, no boxing), reading
  * float32 embeddings directly — the upstream per-element cast-to-double
  * `transform` disappears too (widening happens inside the loop, exactly).
  *
  * Bit-compatibility contract: accumulation is left-to-right from 0.0 with
  * per-element double widening — the identical sequence of IEEE operations
  * as the zip_with form and as the DuckDB oracle's list_inner_product /
  * list_cosine_similarity on DOUBLE[] casts, so hash-verified results are
  * unchanged. Mismatched lengths return NULL at the expression layer (the
  * zip_with form nulls out too — ragged input is a data error, not a
  * truncation); null elements read as 0 (embeddings carry neither).
  */
object VectorKernels {

  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  def norm(a: ArrayData, aFloat: Boolean): Double =
    math.sqrt(dot(a, aFloat, a, aFloat))

  /** Spark's SQL double comparison, exactly (SQLOrderingUtil): equal
    * values (including -0.0 == 0.0) compare 0, otherwise
    * java.lang.Double.compare — NaN greater than everything, NaN ==
    * NaN. The argmax kernels below must replicate the struct-max
    * ordering of the HOF forms they replace bit-for-bit, including
    * these two edges. */
  private def cmpSqlDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's `round(x, scale)` for doubles, exactly: the
    * BigDecimal(double) HALF_UP path Catalyst's Round takes. EXPENSIVE
    * (Double.toString + BigInteger parse per call) — the kernels below
    * call it lazily, only for candidates within one quantum of the
    * incumbent (see [[nearestCode]]): a candidate whose RAW value sits
    * a full quantum past the rounded incumbent cannot round to a value
    * that beats or ties it (|round(x) − x| ≤ q/2, and q = 10^-scale ≫
    * double ulps on these magnitudes), so skipping its rounding leaves
    * every decision bit-identical while cutting the BigDecimal count
    * from per-candidate to per-near-tie — the measured hot spot of
    * portable PQ training (4M calls per assignCodes pass at gate
    * scale). */
  private def roundAt(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Nearest-cell argmax for IVF assignment: `flat` holds K centroid
    * vectors of width w = flat.length / cids.length concatenated in
    * CIDS ORDER; returns the cid maximizing cosine(v, centroid) —
    * EXACTLY the [[graft.operators.IvfAnn.assignCells]] decision
    * (`array_max` over struct(sim, −cid): sim compared with Spark's
    * NaN-greatest double ordering, ties → smallest cid). `scale >= 0`
    * rounds the similarity HALF_UP to that many decimals before
    * comparing — the portable-training mode; `scale < 0` compares raw.
    * One fused loop replaces a K-entry higher-order-function argmax
    * whose lambda Catalyst evaluates interpreted per entry (the
    * measured cost of Lloyd's training); every IEEE operation (the
    * [[cosine]] one-pass kernel both forms share), the rounding and
    * the tie-break are identical, so assignments and oracle hashes
    * are unchanged (spec-held: kernel == HOF form, both orderings). */
  def nearestCell(v: ArrayData, vFloat: Boolean, flat: ArrayData,
      cids: ArrayData, scale: Int): Long = {
    val k = cids.numElements()
    val w = flat.numElements() / k
    val n = v.numElements()
    // loop-invariant quantum for the lazy-rounding skip below (a
    // per-candidate math.pow would itself be a K-per-row hot cost)
    val q = if (scale >= 0) math.pow(10.0, -scale) else 0.0
    var bestSim = Double.NaN
    var bestCid = 0L
    var have = false
    var c = 0
    while (c < k) {
      val off = c * w
      // the exact one-pass [[cosine]] sequence over the slice
      var sab = 0.0
      var saa = 0.0
      var sbb = 0.0
      var i = 0
      val m = math.min(n, w)
      while (i < m) {
        val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val y = flat.getDouble(off + i)
        sab += x * y
        saa += x * x
        sbb += y * y
        i += 1
      }
      var sim = sab / (math.sqrt(saa) * math.sqrt(sbb))
      // Spark's round passes NaN/Infinity through unchanged
      // (BigDecimal would throw) — a degenerate vector's NaN sims
      // must survive into the NaN-greatest compare below. Rounding is
      // LAZY (see [[roundAt]]): a candidate more than one quantum
      // BELOW the rounded incumbent can't round to a value that beats
      // or ties it (round(x) ≤ x + q/2 < bestSim − q/2), and when the
      // incumbent is NaN no numeric candidate ever wins under the
      // NaN-greatest ordering — both skips leave every decision
      // bit-identical to the eager form (spec-held near-tie sweep)
      val canWin = scale < 0 || sim.isNaN || sim.isInfinite || !have ||
        (!bestSim.isNaN && !(sim < bestSim - q))
      if (canWin) {
        if (scale >= 0 && !sim.isNaN && !sim.isInfinite)
          sim = VectorKernels.roundAt(sim, scale)
        val cid = cids.getLong(c)
        val cmp = if (!have) 1 else cmpSqlDouble(sim, bestSim)
        if (cmp > 0 || (cmp == 0 && cid < bestCid)) {
          bestSim = sim; bestCid = cid; have = true
        }
      }
      c += 1
    }
    bestCid
  }

  /** Nearest-code argmin for product quantization: `flat` holds K
    * codewords of width w = flat.length / k concatenated in CODE ORDER;
    * returns [d, code] for the code minimizing the round-6 expanded L2
    * — EXACTLY the [[graft.operators.ProductQuantizer.l2sq]] decision:
    * d_c = round((|sv|² − 2·sv·cb_c) + |cb_c|², 6), strict-< tracking so
    * ties keep the SMALLEST code. One fused loop replaces a K-entry
    * higher-order-function argmin whose lambda Catalyst evaluates
    * interpreted per entry (struct allocation per candidate — the
    * measured bottleneck of codebook training at m=32/k=64); every
    * IEEE operation, the HALF_UP rounding (Spark's `round`), and the
    * tie-break are identical, so codes and oracle hashes are unchanged
    * (spec-held: kernel == HOF form). */
  def nearestCode(sv: ArrayData, svFloat: Boolean, flat: ArrayData,
      k: Int): ArrayData = {
    val w = flat.numElements() / k
    val aa = dot(sv, svFloat, sv, svFloat)
    var bestD = Double.MaxValue
    var bestC = -1
    var c = 0
    while (c < k) {
      var ab = 0.0
      var bb = 0.0
      var j = 0
      val off = c * w
      while (j < w) {
        val x = if (svFloat) sv.getFloat(j).toDouble else sv.getDouble(j)
        val y = flat.getDouble(off + j)
        ab += x * y
        bb += y * y
        j += 1
      }
      // same association as the expression form: (aa − 2·ab) + bb,
      // then Spark round's HALF_UP at 6 ([[roundAt]] is the exact
      // code path Catalyst's Round takes for DoubleType; NaN/Infinity
      // pass through unchanged, as Spark's round does). Rounding is
      // LAZY: a raw distance more than one quantum ABOVE the rounded
      // incumbent can't round below it (round(x) ≥ x − q/2 >
      // bestD + q/2), and ties never replace under the strict `<` —
      // so skipping its BigDecimal leaves every decision and every
      // emitted (d, code) bit-identical to the eager form (the
      // measured hot spot: 4M BigDecimals per assignCodes pass)
      val raw = (aa - 2.0 * ab) + bb
      val canWin = raw.isNaN || raw.isInfinite || bestC < 0 ||
        bestD.isNaN || !(raw > bestD + 1e-6)
      if (canWin) {
        val d = if (raw.isNaN || raw.isInfinite) raw
          else VectorKernels.roundAt(raw, 6)
        // Spark's NaN-greatest ordering, as array_min applies it: a NaN
        // distance loses to any number, and an all-NaN row still picks
        // the smallest code (strict `<` alone would leave no winner)
        if (bestC < 0 || cmpSqlDouble(d, bestD) < 0) { bestD = d; bestC = c }
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Double](bestD, bestC.toDouble))
  }

  /** dot(a,b) / (|a|·|b|) in one pass over both arrays. */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sab = 0.0
    var saa = 0.0
    var sbb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      sab += x * y
      saa += x * x
      sbb += y * y
      i += 1
    }
    sab / (math.sqrt(saa) * math.sqrt(sbb))
  }

  /** L2-normalize: each element (double-widened) divided by
    * sqrt(sum of squares) — the exact IEEE sequence of the HOF form
    * `transform(v, x -> CAST(x AS DOUBLE) / sqrt(aggregate(v, 0D,
    * (a, y) -> a + CAST(y)*CAST(y))))`, whose interpreted evaluation
    * re-runs the aggregate lambda PER ELEMENT (O(dim²) per row — the
    * measured cost of the x34/x36 normalize scans). One pass for the
    * norm, one for the division. A ZERO vector divides by 0.0 into IEEE
    * NaN here, where SQL Divide would raise under ANSI (Spark 4
    * default) or null out under non-ANSI — embeddings carry no
    * zero-norm vectors (the same caveat class as "null elements read
    * as 0" above), and NaN is the honest serving behavior where the
    * HOF form would crash the job. */
  def l2normalize(a: ArrayData, aFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      i += 1
    }
    val nm = math.sqrt(s)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x / nm
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object VectorExprs {
  def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def checkVec(e: Expression, side: String): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$side must be array<float|double>, got ${other.simpleString}")
    }
}

/** [[VectorKernels.nearestCell]] as a codegen expression:
  * (v array<float|double>, flat array<double>, cids array<bigint>,
  * scale int) → cid (bigint). NULL on a null input, an empty centroid
  * set (the assignCells empty-table guard), or a flat length not
  * divisible by the cid count. */
case class VecNearestCellExpr(v: Expression, flat: Expression,
    cids: Expression, scale: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def first: Expression = v
  override def second: Expression = flat
  override def third: Expression = cids
  override def fourth: Expression = scale
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val s = VectorExprs.checkVec(v, "v")
    if (!s.isSuccess) s
    else (flat.dataType, cids.dataType, scale.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(LongType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (array<double>, array<bigint>, int), got $other")
    }
  }
  private lazy val vF = VectorExprs.isFloat(v)
  override protected def nullSafeEval(a: Any, f: Any, cs: Any,
      sc: Any): Any = {
    val (x, fl, ci) = (a.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData],
      cs.asInstanceOf[ArrayData])
    val k = ci.numElements()
    // empty flat guarded explicitly: nonempty cids with an empty flat
    // passes 0 % k == 0, width collapses to 0, every similarity is NaN
    // and the kernel would silently return the smallest cid
    if (k == 0 || fl.numElements() == 0 || fl.numElements() % k != 0) null
    else VectorKernels.nearestCell(x, vF, fl, ci, sc.asInstanceOf[Int])
  }
  // the guard condition must be ONE source line: whole-stage
  // post-processing strips the leading "||" off a continuation line,
  // leaving invalid Java — Janino then fails (a ~3 s failed compile
  // per occurrence) and the stage silently runs interpreted
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, f, cs, sc) => {
      val k = ctx.freshName("graftK")
      val bad = ctx.freshName("graftBad")
      s"""
      int $k = $cs.numElements();
      boolean $bad = $k == 0 || $f.numElements() == 0 || $f.numElements() % $k != 0;
      if ($bad) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.VectorKernels.nearestCell($a, $vF, $f, $cs, $sc);
      }"""
    })
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(v = newFirst, flat = newSecond, cids = newThird,
      scale = newFourth)
}

/** [[VectorKernels.nearestCode]] as a codegen expression:
  * (sv array<float|double>, flat array<double>, k int) → [d, code].
  * NULL on a null/empty input, a flat length not divisible by k, or a
  * subvector whose length differs from the codeword width flat/k — a
  * codebook/width mismatch is a data error, never a truncation (the
  * vec_dot-based l2sq form this kernel replaced nulled out on ragged
  * lengths too; without the guard the inner loop would read past a
  * short subvector's backing array, which UnsafeArrayData returns as
  * silent garbage codes). */
case class VecNearestCodeExpr(sv: Expression, flat: Expression,
    k: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = sv
  override def second: Expression = flat
  override def third: Expression = k
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val s = VectorExprs.checkVec(sv, "sv")
    if (!s.isSuccess) s
    else (flat.dataType, k.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType | LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (array<double>, int), got $other")
    }
  }
  private lazy val sF = VectorExprs.isFloat(sv)
  override protected def nullSafeEval(a: Any, f: Any, kk: Any): Any = {
    val (x, fl) = (a.asInstanceOf[ArrayData], f.asInstanceOf[ArrayData])
    val ki = kk match { case l: Long => l.toInt; case i: Int => i }
    if (ki <= 0 || fl.numElements() == 0 || fl.numElements() % ki != 0 ||
      x.numElements().toLong * ki != fl.numElements().toLong) null
    else VectorKernels.nearestCode(x, sF, fl, ki)
  }
  // ONE-line guard condition — see VecNearestCellExpr.doGenCode
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, f, kk) => {
      val k = ctx.freshName("graftK")
      val bad = ctx.freshName("graftBad")
      s"""
      int $k = (int) $kk;
      boolean $bad = $k <= 0 || $f.numElements() == 0 || $f.numElements() % $k != 0 || (long) $a.numElements() * $k != (long) $f.numElements();
      if ($bad) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.VectorKernels.nearestCode($a, $sF, $f, $k);
      }"""
    })
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(sv = newFirst, flat = newSecond, k = newThird)
}

case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // ragged inputs yield null (below), independent of child nullability
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = VectorExprs.checkVec(left, "left")
    if (l.isSuccess) VectorExprs.checkVec(right, "right") else l
  }
  private lazy val lF = VectorExprs.isFloat(left)
  private lazy val rF = VectorExprs.isFloat(right)
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null
    else VectorKernels.dot(x, lF, y, rF)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.VectorKernels.dot($a, $lF, $b, $rF);
      }""")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class VecNormExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorExprs.checkVec(child, "argument")
  private lazy val cF = VectorExprs.isFloat(child)
  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.norm(a.asInstanceOf[ArrayData], cF)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernels.norm($a, $cF)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[VectorKernels.l2normalize]] as a codegen expression:
  * array<float|double> → array<double> (not null; null input → null via
  * the null-safe wrapper). Bit-compatibility: see the kernel doc — the
  * HOF `transform(..., x -> x / sqrt(aggregate(...)))` form it replaces
  * evaluates the same left-to-right double arithmetic, just
  * once-per-element instead of once-per-row (spec-held). */
case class VecL2NormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VectorExprs.checkVec(child, "argument")
  private lazy val cF = VectorExprs.isFloat(child)
  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.l2normalize(a.asInstanceOf[ArrayData], cF)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.l2normalize($a, $cF)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class VecCosineExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // ragged inputs yield null (below), independent of child nullability
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val l = VectorExprs.checkVec(left, "left")
    if (l.isSuccess) VectorExprs.checkVec(right, "right") else l
  }
  private lazy val lF = VectorExprs.isFloat(left)
  private lazy val rF = VectorExprs.isFloat(right)
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null
    else VectorKernels.cosine(x, lF, y, rF)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements()) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.VectorKernels.cosine($a, $lF, $b, $rF);
      }""")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
