package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AnyValue}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** SQLite-dialect compatibility for the pass-through SQL surface.
  *
  * SQLite permits "bare columns" in an aggregate query — selecting a
  * column that is neither grouped nor aggregated (it yields the value
  * from an arbitrary row of the group). The reference's own committed
  * example query does exactly this (reference run_main_example.py:14-18:
  * `SELECT company, product, COUNT(product) … GROUP BY product` with
  * `company` bare), which ANSI Spark rejects (SURVEY.md §2.F Q5).
  *
  * [[SqliteBareColumnRule]] is an injected resolution rule that, when
  * `spark.graft.sqlite.bareColumns=true`, rewrites every bare column in
  * an Aggregate into `any_value(col)` — Spark's native "arbitrary row's
  * value" aggregate — preserving the SQLite semantics (including its
  * nondeterminism) without touching the user's SQL.
  *
  * Registered via [[GraftSparkExtensions]]: the session builder's
  * `withExtensions(new GraftSparkExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftSparkExtensions`.
  */
object SqliteBareColumnRule extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.sqlite.bareColumns"

  private def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "false").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.resolveOperatorsUp {
      case agg: Aggregate if agg.childrenResolved &&
          agg.groupingExpressions.forall(_.resolved) =>
        val grouping = agg.groupingExpressions
        def isGrouped(e: Expression): Boolean =
          grouping.exists(_.semanticEquals(e))
        def rewrite(e: Expression, insideAgg: Boolean): Expression = e match {
          case ae: AggregateExpression => ae // already aggregated below here
          case attr: Attribute if !insideAgg && attr.resolved && !isGrouped(attr) =>
            AnyValue(attr, ignoreNulls = false).toAggregateExpression()
          case other if isGrouped(other) => other
          case other =>
            other.mapChildren(c => rewrite(c, insideAgg))
        }
        val newAggExprs = agg.aggregateExpressions.map {
          case a @ Alias(child, name) =>
            val r = rewrite(child, insideAgg = false)
            if (r.eq(child)) a else Alias(r, name)(exprId = a.exprId)
          case attr: Attribute if attr.resolved && !isGrouped(attr) =>
            Alias(AnyValue(attr, ignoreNulls = false).toAggregateExpression(), attr.name)()
          case other => other.mapChildren(c =>
            rewrite(c, insideAgg = false)).asInstanceOf[NamedExpression]
        }
        if (newAggExprs == agg.aggregateExpressions) agg
        else agg.copy(aggregateExpressions = newAggExprs)
    }
}

/** Session extension registrar for graft's Catalyst customizations. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => SqliteBareColumnRule)
  }
}
