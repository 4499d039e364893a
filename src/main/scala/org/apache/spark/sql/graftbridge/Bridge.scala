package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the Column API implementation-agnostic
  * and scoped the conversion helpers `private[sql]`; extension libraries shipping
  * native Catalyst expressions (graft.functions) reach them via this in-namespace
  * shim — the same pattern other Spark-native libraries use. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (classic-impl accessor, `private[sql]`). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** The table `Dataset.show` prints to stdout (`showString` is `private[sql]`),
    * for callers that log it line by line instead. `truncate` 0 keeps cells
    * whole. */
  def showString(df: org.apache.spark.sql.DataFrame, numRows: Int, truncate: Int): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].showString(numRows, truncate)

  /** Build a DataFrame over a (possibly custom) logical plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's experimental-methods hook (extraStrategies/extraOptimizations). */
  def experimental(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.ExperimentalMethods =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental

  /** Observation read with a bounded wait (`getRowOrEmpty` is `private[sql]`).
    * Metric delivery rides the async listener bus, so a read immediately after the
    * action can race it — poll briefly instead of blocking forever (a skipped write,
    * e.g. MODE=ignore over an existing path, never fires the metric at all).
    * None after the deadline means "metric unavailable", distinct from zero rows. */
  def observedRow(obs: org.apache.spark.sql.Observation, waitMillis: Long = 0)
      : Option[org.apache.spark.sql.Row] = {
    val deadline = System.nanoTime() + waitMillis * 1000000L
    var r = obs.getRowOrEmpty
    while (r.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(25)
      r = obs.getRowOrEmpty
    }
    r
  }
}
