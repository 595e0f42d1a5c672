package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ↔ Expression bridge through which every graft native
  * expression reaches the DataFrame API: the Column forms of the engine
  * functions ([[graft.GraftFunctions.column]], which applies their
  * builders to the argument expressions), the fused Jaro-Winkler cutoff,
  * and expressions that carry runtime state
  * ([[graft.engine.BloomMightContain]]'s broadcast filter handle). None
  * of them goes through a session's function registry.
  *
  * Spark 4 gates these conversions behind `private[sql]`
  * (`classic.ExpressionUtils`, `classic.ColumnNodeToExpressionConverter`),
  * so this forwarder lives in the
  * `org.apache.spark.sql` package — the standard technique used by
  * open-source Spark extension libraries (frameless, sedona, delta) for
  * exactly this need. Apart from [[org.apache.spark.GraftListenerBus]],
  * nothing else in the repo reaches into Spark internals; keep it that
  * way.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** Converted now, not at analysis: the builders read their literal
    * arguments (`k`, seeds) when they build the expression. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
