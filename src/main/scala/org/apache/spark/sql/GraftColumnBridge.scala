package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql-private Column<->Expression converters — the
  * supported extension-point shape for libraries that define native
  * Catalyst expressions (Spark 4 moved Column to a ColumnNode wrapper;
  * classic.ExpressionUtils is private[sql]).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The Column's whole Catalyst tree, nested Column nodes converted — for
    * builders that run inside the analyzer (SQL functions), where the
    * ColumnNode wrappers [[expression]] leaves would never be resolved.
    */
  def tree(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
}
