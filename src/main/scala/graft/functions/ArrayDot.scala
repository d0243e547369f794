package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product of two double arrays, summed LEFT-TO-RIGHT — the
  * identical operation order (and therefore identical floating-point
  * result) as the lambda formulation `aggregate(zip_with(a, b, (x, y) =>
  * x * y), 0.0, (acc, x) => acc + x)` and DuckDB's
  * `list_sum(list_transform(...))` oracle form.
  *
  * Why an expression: the lambda form evaluates its higher-order functions
  * INTERPRETED — per element, per pair, Catalyst dispatches both lambdas
  * (~6 virtual calls + boxing per dimension). Inside a pairwise operator
  * like SemDeDup's within-cell pass (millions of pairs × 64 dims) that
  * interpretation dominated the whole benchmark: dd_semdedup spent minutes
  * in lambda dispatch where this tight loop spends seconds. `doGenCode`
  * emits a static call so whole-stage codegen stays intact around it.
  *
  * Null contract: a null array yields null (BinaryExpression's default
  * null-intolerance); null ELEMENTS are not expected from the embedding
  * readers and are read as raw slot values — callers own element
  * cleanliness, same as the lambda form which would propagate null to the
  * whole sum. Length mismatch multiplies the common prefix, matching
  * zip_with's null-padding semantics under the final sum only when arrays
  * are equal-length — the operators here always compare equal-dim vectors. */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayDot.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** `array_dot(a, b)` over two double-array columns. */
  def apply(a: Column, b: Column): Column =
    column(ArrayDot(expression(a), expression(b)))
}
