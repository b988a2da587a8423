package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge into `private[sql]` Spark internals needed by the custom
  * operator layer (graft.plans): constructing a DataFrame from a raw
  * LogicalPlan and extracting the Catalyst expression from a public
  * Column. Standard extension-library pattern — the alternative is
  * reflection, which is strictly worse. */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Eager conversion to a pure Catalyst tree (ExpressionUtils.expression
    * wraps the public column AST lazily, which leaks non-serializable
    * internal nodes into task closures). */
  def expr(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Milliseconds the finished execution's query spent in the tracked
    * planning phases (analysis, optimization, physical planning); None
    * when the event carries no query (a replayed event log). */
  def planningMs(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.tracker.phases.valuesIterator.map(_.durationMs).sum)
}
