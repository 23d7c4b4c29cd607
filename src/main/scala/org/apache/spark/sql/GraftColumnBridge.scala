package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark internals the engine needs: the private[sql] Column ⇄
  * Expression converters — Spark 4 removed the public `Column.expr` /
  * `new Column(expr)` surface; custom Catalyst expressions
  * (graft.functions.HexPrefixToLongExpr) still need the classic
  * conversion — and the private[spark] listener bus drain the bench
  * reads its counters after. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Eager ColumnNode → catalyst conversion: ExpressionUtils.expression
    * wraps lazily in a ColumnNodeExpression, which never resolves when
    * the result is injected through the function registry — the converter
    * produces a plain catalyst tree the analyzer handles anywhere. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Block until every listener event posted so far has been delivered
    * (`graft.Bench` reads its listeners' counters after this). */
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
