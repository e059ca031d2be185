package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Compile-checked access to the `private[sql]` Column↔Expression
  * converters: the one way the engine puts its native expressions
  * (`graft.functions.*`) into a query, as `column(X(expression(c), …))`.
  * A Column built this way carries the expression itself, so it resolves
  * in any session, on any thread, with nothing registered — a by-name
  * function lookup would resolve in whatever session analyzes the frame
  * and fail in one that never registered the name. Configuration
  * (codebooks, plane counts, modes) travels as plain Scala fields of the
  * expression, not as literals decoded again at analysis.
  */
object ExprBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
