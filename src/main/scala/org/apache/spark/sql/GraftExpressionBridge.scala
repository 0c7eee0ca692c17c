package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Column↔Expression seam.
  *
  * Spark 4 made the classic Column internals package-private; libraries
  * that ship custom Catalyst expressions use a small shim in the
  * `org.apache.spark.sql` package to lift an `Expression` into a user
  * `Column` (the same access route Spark's own `functions` object uses).
  */
object GraftExpressionBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The DataFrame of a parsed plan, analyzed as `spark.sql` would,
    * with `resolved` applied to the resolved plan before the analysis
    * check. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan)(
      resolved: LogicalPlan => LogicalPlan): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.withActive {
      val analyzer = s.sessionState.analyzer
      val analyzed = resolved(analyzer.execute(plan))
      analyzer.checkAnalysis(analyzed)
      classic.Dataset.ofRows(s, analyzed)
    }
  }
}
