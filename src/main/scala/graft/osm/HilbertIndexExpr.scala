package graft.osm

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve position (16 bits/dim) of a point inside a bounding box —
  * standard public d2xy/xy2d algorithm, also used by the reference's
  * spatial sort dependency (rq_geo_toolkit, SURVEY §2.6 O2).
  *
  * Static kernel shared by the interpreted path, the generated code, and
  * any plain-Scala caller.
  */
object HilbertCurve {
  final val Order = 16 // 2^16 cells per dimension -> 32-bit index

  def index(x: Double, y: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double): Long = {
    val n = 1L << Order
    val fx = if (xmax > xmin) (x - xmin) / (xmax - xmin) else 0.5
    val fy = if (ymax > ymin) (y - ymin) / (ymax - ymin) else 0.5
    var px = math.min(n - 1, math.max(0L, (fx * (n - 1)).toLong))
    var py = math.min(n - 1, math.max(0L, (fy * (n - 1)).toLong))
    var d = 0L
    var s = n / 2
    while (s > 0) {
      val rx = if ((px & s) > 0) 1L else 0L
      val ry = if ((py & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { px = s - 1 - px; py = s - 1 - py }
        val t = px; px = py; py = t
      }
      s /= 2
    }
    d
  }
}

/** Catalyst expression wrapper: stays inside whole-stage codegen (the
  * generated code calls the static kernel directly — no Scala-UDF
  * boxing/encoding on the sort hot path). */
case class HilbertIndexExpr(children: Seq[Expression])
    extends Expression {
  require(children.length == 6,
    "hilbert_index(x, y, xmin, ymin, xmax, ymax)")

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else HilbertCurve.index(
      vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double],
      vs(4).asInstanceOf[Double], vs(5).asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(_.isNull).mkString(" || ")
    val args = evals.map(_.value).mkString(", ")
    val code =
      code"""
        ${evals.map(_.code).mkString("\n")}
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = graft.osm.HilbertCurve.index($args);
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
