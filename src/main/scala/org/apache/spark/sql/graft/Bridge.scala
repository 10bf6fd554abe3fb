package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made `Column` wrap a `ColumnNode` instead of a Catalyst
  * `Expression`; the two-way bridge lives in `private[sql]`
  * `classic.ExpressionUtils`. This shim re-exports it for graft's custom
  * expressions — the conventional extension-library pattern (connectors
  * do the same to reach classic internals).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully convert a composed Column into a Catalyst tree. The plain
    * `ExpressionUtils.expression` wraps the ColumnNode lazily — fine
    * inside DataFrame plans (the session converts it during analysis),
    * but a function-registry builder must return a real tree, so convert
    * through the active session's ColumnNodeToExpressionConverter.
    */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.SparkSession.getActiveSession match {
      case Some(s) => s.expression(c)
      case None    => ExpressionUtils.expression(c)
    }

  /** Register a native function builder into a LIVE session's function
    * registry (`sessionState` is `private[sql]`, hence this shim). The
    * `spark.sql.extensions` path covers new sessions; this covers the
    * session you already have — same builders either way.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in BYTES
    * (-1 when auto-broadcast is disabled). `sessionState` is
    * `private[sql]`, and the public `spark.conf.get` returns the raw
    * STRING form ("64m") — this returns the parsed value the planner
    * itself consults, so size gates (e.g. whether to `broadcast()`-hint
    * a victim frame) agree with what the optimizer would do.
    */
  def autoBroadcastJoinThreshold(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold
}
