package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable string hashes (SURVEY §2 beyond-reference similarity
  * family). `md5Prefix28(s)` is bit-identical to the SQL form
  * `conv(substring(md5(s), 1, 7), 16, 10)` (Spark) and
  * `('0x' || substr(md5(s), 1, 7))::BIGINT` (DuckDB) — the 28-bit prefix
  * of the MD5 digest — which is what lets every similarity query be
  * verified against an independent SQL engine.
  *
  * Why not just call `md5()`: Spark's built-in goes through
  * `DigestUtils.md5Hex`, which calls `MessageDigest.getInstance` PER ROW.
  * The JCA provider lookup synchronizes, so on a 32-thread executor the
  * hashing serializes on that lock (observed: a 0.6 s single-thread stage
  * ballooning to 40 task-seconds across 32 tasks). The kernel below keeps
  * one digest per thread and skips the hex-string render + substring +
  * radix re-parse entirely.
  */
object PortableHash {
  private val md5s: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** This thread's reusable MD5 instance — for kernels that digest many
    * byte ranges per row ([[TextKernels.charGramHashes]]) without paying
    * the per-call ThreadLocal lookup and digest allocation. The instance
    * self-resets on `digest(...)`; callers must not interleave. */
  def threadDigest(): java.security.MessageDigest = md5s.get()

  /** First 7 hex digits (28 bits) of md5(s), as a long. */
  def md5Prefix28(s: UTF8String): Long = {
    val d = md5s.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    ((dig(0) & 0xffL) << 20) | ((dig(1) & 0xffL) << 12) |
      ((dig(2) & 0xffL) << 4) | ((dig(3) & 0xf0L) >>> 4)
  }
}

/** Whole-stage-codegen wrapper for [[PortableHash.md5Prefix28]]; the
  * generated code calls the static kernel directly. */
case class Md5Prefix28Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    PortableHash.md5Prefix28(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PortableHash.md5Prefix28($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
