package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native squared L2 distance between two double arrays, accumulated
  * LEFT-TO-RIGHT as `(a[i]-b[i])^2` — the identical operation order (and
  * floating-point result) as the lambda form `aggregate(zip_with(a, b,
  * (x, c) => (x-c)*(x-c)), 0.0, (acc, x) => acc + x)` and the DuckDB
  * oracle's `list_sum(list_transform(...))`. NOT the algebraic
  * `|a|^2 - 2ab + |b|^2` identity: that rewrites the summation order and
  * can flip an exact argmin tie, breaking cross-engine code assignment.
  *
  * Why an expression: PQ code assignment evaluates m×k of these per row
  * (8×16 = 128 sub-distances of 8 dims — ~6 interpreted dispatches per
  * element in lambda form); see ArrayDot for the cost analysis. Same
  * null/length contract as ArrayDot. */
case class ArraySqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArraySqDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArraySqDist.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArraySqDist =
    copy(left = newLeft, right = newRight)
}

object ArraySqDist {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** `array_sqdist(a, b)` over two double-array columns. */
  def apply(a: Column, b: Column): Column =
    column(ArraySqDist(expression(a), expression(b)))
}
