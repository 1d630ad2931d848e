package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column↔Expression conversion — the standard
  * extension-library pattern for exposing custom Catalyst expressions as
  * user-facing Columns on Spark 4's classic engine. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Convert a Column's node tree into a catalyst Expression EAGERLY (the
    * same conversion the analyzer would run), instead of the lazy
    * `ColumnNodeExpression` wrapper [[expression]] returns — for callers
    * that need to WALK the tree pre-analysis (e.g. stats-based data
    * skipping). Comparisons come back as `UnresolvedFunction("<", ...)`
    * etc., exactly as the parser would produce them. */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The session's function registry (`sessionState` is `private[sql]`) —
    * lets [[graft.functions.GraftExtensions]] register SQL functions on an
    * ALREADY-RUNNING session, not just at builder time. */
  def functionRegistry(spark: SparkSession): catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** The session's SQL configuration, typed (`sessionState` is
    * `private[sql]`) — for reading Spark's own byte-size settings. */
  def sqlConf(spark: SparkSession): internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** A DataFrame over an already-analyzed logical plan (`Dataset.ofRows` is
    * `private[sql]`) — how the SQL INSERT command materializes its source
    * query for the versioned write path. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
