package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Column ⇄ Expression bridge, plus the one Spark error a kernel raises.
  * Spark 4 made these `private[sql]`; extension libraries conventionally
  * expose them from a shim in the `org.apache.spark.sql` package (cf. the
  * public DatasetFactory/SqlStrategy patterns in SNIPPETS.md). */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The error an ANSI-mode division by zero raises (`DIVIDE_BY_ZERO`). */
  def divideByZeroError(): ArithmeticException =
    QueryExecutionErrors.divideByZeroError(null)
}
