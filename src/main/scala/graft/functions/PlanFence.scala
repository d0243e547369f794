package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftAccess.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.DataType

/** Identity wrapper that REPORTS non-determinism — an optimizer fence
  * for expensive computed columns, with zero per-row cost (both eval
  * paths delegate straight to the child).
  *
  * Why it exists: Catalyst's filter pushdown substitutes a projected
  * alias into every predicate it pushes below the Project, and project
  * collapsing inlines aliases into consumers. For a cheap alias that is
  * free; for a large expression tree referenced by many downstream
  * verdicts it is MULTIPLICATIVE — the composed crawl-frontier queries
  * inlined the RFC 3986 [[graft.operators.WebFilters.resolveHref]]
  * resolver (~27 KB of plan text) into one pushed Filter ~60 times:
  * 1.7 MB physical plans, 3.2-3.6 s of pure Catalyst planning and
  * 3.5 MiB broadcast task binaries PER QUERY, measured by
  * `graft.PlanProbe` at sf0.1 (plans/r17/ta_crawl_*_before.txt). The
  * same class of blowup forced [[graft.operators.WebFilters.docBase]]'s
  * materialize-once contract in round 16.
  *
  * Both rules gate on `Expression.deterministic`
  * (`PushPredicateThroughNonJoin` requires every project alias
  * deterministic; `CollapseProject.canCollapseExpressions` refuses
  * non-deterministic producers), so claiming non-determinism pins the
  * wrapped alias exactly where it was written: computed once, every
  * consumer references the attribute. The claim is semantically safe —
  * a deterministic child stays deterministic in VALUE; the flag only
  * forbids the optimizer to duplicate or reorder it, never changes what
  * is computed (same contract as guide §4.4's `asNondeterministic` for
  * expensive UDFs, applied to a built-in expression tree).
  *
  * What it costs: filters above the fence no longer push below it. At
  * the fenced call sites that is nothing — the fence wraps columns
  * DERIVED from an explode (href resolution), and a predicate on a
  * generated column could never reach the scan anyway; parquet
  * PushedFilters sit below the Generate, untouched (PlanSpec pins
  * this). Codegen passes through unchanged, so whole-stage codegen
  * spans stay intact around it. */
case class PlanFence(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "plan_fence"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code = childGen.code, isNull = childGen.isNull,
      value = childGen.value)
  }

  override protected def withNewChildInternal(newChild: Expression): PlanFence =
    copy(child = newChild)
}

object PlanFence {
  /** `plan_fence(c)`: `c` behind the fence. */
  def apply(c: Column): Column = column(PlanFence(expression(c)))
}
