package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Sequential dot product of two double arrays as a native expression.
  *
  * Semantically identical to the declarative
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` fold — same left-to-right
  * IEEE evaluation order, so results stay bit-identical to the DuckDB
  * oracle's `list_reduce` mirror — but evaluated as one tight JVM loop per
  * row instead of materializing a zipped array and interpreting a fold
  * expression tree. On the 25M-pair brute-force cosine at sf0.1 this is the
  * difference between the HOF chain dominating the benchmark and the scan
  * being I/O-bound.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_seq"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Real codegen (no CodegenFallback): emits a static-helper call, so the
    * surrounding Project/Filter stays one whole-stage-codegen'd loop
    * instead of falling back to interpreted row processing. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.llm.DotProduct.dot($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductExpr = copy(newLeft, newRight)
}

object DotProduct {
  /** Tight sequential loop; called from both eval and generated code. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  /** Column form of `dot_seq(a, b)`. */
  def dotSeq(a: Column, b: Column): Column =
    graft.GraftFunctions.column("dot_seq", a, b)
}
