package org.apache.spark.sql.graft

/** Bridge to the `private[sql]` session seams the build-scoped
  * execution tuning needs (the [[InternalRowOps]] convention: this
  * file lives in the `org.apache.spark.sql` namespace solely to reach
  * them; everything it does is public-API semantics). */
object SessionOps {

  /** True clone of `spark` (`private[sql]`): same SparkContext and
    * cache, OWN copy of the session state — runtime SQL confs, temp
    * views and registered functions all carry over, where
    * `newSession()` would silently drop them (and make, e.g., a
    * conversion's customSqlFilter using a caller-registered UDF depend
    * on input size). Conf changes on the clone never reach `spark`. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** Re-bind `df`'s logical plan to `session` — a `cloneSession`
    * sibling sharing the SparkContext and cache but carrying its OWN
    * SQLConf: every later action on the returned frame runs under the
    * clone's runtime settings (shuffle width, AQE) without mutating
    * the caller's session. The plan is already-constructed DataFrame
    * lineage (no temp-view/catalog references to re-resolve across
    * sessions in this repo's call sites). */
  def rebind(df: org.apache.spark.sql.DataFrame,
      session: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** Column ⇄ Expression bridges (`ExpressionUtils` is private[sql]). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Catalyst's size estimate for `df`'s optimized plan (bytes;
    * file-size-derived for source-backed plans, `Long.MaxValue`-ish
    * when unknown — callers treat "unknown" as "large"). */
  def estimatedBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Block until the listener bus has delivered every event posted so
    * far (or the timeout passes — returns whether it fully drained).
    * `listenerBus` is private[spark]; diagnostics that COUNT events
    * (the fault injector's failed-task accounting) need a
    * deterministic drain, not a sleep-poll that can credit one check
    * with a predecessor's late-arriving task-end event. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession,
      timeoutMs: Long): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
