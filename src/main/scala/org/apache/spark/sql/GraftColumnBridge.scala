package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Bridge to the `private[sql]` Column↔Expression converters in Spark 4
  * (`classic.ExpressionUtils`) — the standard extension-package pattern
  * for registering custom Catalyst expressions behind the public Column
  * API — and to the `private[sql]` errors a kernel must raise exactly as
  * the built-in expression it replaces does. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's ANSI DIVIDE_BY_ZERO error, as `Divide` throws it. */
  def divideByZeroError(): ArithmeticException =
    QueryExecutionErrors.divideByZeroError(null)
}
