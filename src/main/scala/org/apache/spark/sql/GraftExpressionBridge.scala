package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for graft's native expressions that carry
  * RUNTIME state (e.g. [[graft.engine.BloomMightContain]]'s broadcast
  * filter handle) and therefore cannot go through the literal-only
  * function-registry path the other graft expressions use
  * (`GraftFunctions` / `expr("simhash64(...)")`).
  *
  * Spark 4 gates these conversions behind `private[sql]`
  * (`classic.ExpressionUtils`), so this 4-line forwarder lives in the
  * `org.apache.spark.sql` package — the standard technique used by
  * open-source Spark extension libraries (frameless, sedona, delta) for
  * exactly this need. Apart from [[org.apache.spark.GraftListenerBus]],
  * nothing else in the repo reaches into Spark internals; keep it that
  * way.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
