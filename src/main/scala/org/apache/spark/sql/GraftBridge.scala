package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark's `private[sql]` Column ↔ Catalyst Expression converters
 * (org.apache.spark.sql.classic.ExpressionUtils). Needed so graft's custom
 * expressions (e.g. the v1-UUID `now()`) can surface as `Column`s on
 * Spark 4's ColumnNode-based API.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the listener bus so per-run task-metric deltas read by
    * Bench's probe diagnostics are complete (`waitUntilEmpty` is
    * `private[spark]`). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Non-blocking read of an [[Observation]]: the observed metrics if its
    * action already completed, else empty, without waiting (Spark's
    * `getOrEmpty` is `private[spark]` and waits up to 100 ms). The sink's
    * counters ride the write path's jobs and fall back to a job of their
    * own only when the observation has not fired.
    * Spark's own `getOrEmpty` NPEs when the completed metrics row carries
    * no schema (a CollectMetrics node dropped by empty-relation
    * propagation fires a schema-less row) — treated here as "nothing
    * observed" so the caller's fallback job runs. */
  def observedOrEmpty(o: Observation): Map[String, Any] =
    if (!o.future.isCompleted) Map.empty
    else try o.getOrEmpty
    catch { case _: NullPointerException => Map.empty }
}
