package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column ↔ Expression converters, for graft's
  * custom Catalyst expressions. Placing an object inside `org.apache.spark.sql`
  * is the standard extension pattern for libraries that add native
  * expressions (the public `Column` API stopped exposing `expr` in Spark 4's
  * Connect-compatible refactor). SQL names come from [[graft.GraftExtensions]]. */
object GraftSql {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom AggregateFunction as an aggregate Column (the
    * `toAggregateExpression` plumbing is catalyst-internal). */
  def aggregateColumn(
      agg: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Column =
    column(agg.toAggregateExpression())

  /** Raise a proper analysis error (the `String` ctor is `private[sql]`). */
  def analysisError(msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> msg))
}
