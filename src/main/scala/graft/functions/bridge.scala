package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst-Expression bridge. Spark 4 made these converters
  * `private[sql]`; this one-file shim lives under the org.apache.spark.sql
  * namespace purely to re-export them to graft (the standard pattern for
  * libraries that add custom catalyst expressions). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` with every floating-point value in it normalized as Spark's
    * `groupBy` normalizes its keys (-0.0 becomes 0.0, every NaN one NaN), so
    * equal keys have equal binary forms. */
  def normalizedFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** DataFrame over an already-built logical plan: the histogram core
    * reads a series' source plan (a frame's analyzed plan minus a top
    * projection) back as a DataFrame this way. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Deterministic listener-bus drain: blocks until every queued
    * SparkListener event has been delivered. `SparkContext.listenerBus` is
    * `private[spark]`; tests that accumulate task metrics through a
    * listener (e.g. shuffle-byte ceilings) need this instead of a sleep —
    * a fixed sleep fails OPEN exactly when the box is loaded and events
    * flush late (ADVICE r13). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
