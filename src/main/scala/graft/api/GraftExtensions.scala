package graft.api

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.HammingDistanceExpr

/** SparkSessionExtensions entry point: registers graft's native
  * expressions and planner additions into any session at build time —
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *
  * or via config:
  *   spark.sql.extensions=graft.api.GraftExtensions
  *
  * The planner additions are the optimizer rule
  * [[org.apache.spark.sql.graft.SingleTaskSort]] (small root sorts in
  * one partition) and the planner strategy
  * [[org.apache.spark.sql.graft.PackedCountAgg.Strategy]]. Sessions
  * built without the extensions get the same two through
  * [[org.apache.spark.sql.graft.GraftPlanner.install]], which every
  * engine parquet read and `PackedCountAgg.countByKey` call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("hamming64"),
      new ExpressionInfo(classOf[HammingDistanceExpr].getName, "hamming64"),
      (exprs: Seq[Expression]) =>
        HammingDistanceExpr(exprs.head, exprs(1))))
    // count-by-packed-long-key physical operator (gx18's aggregation
    // core)
    e.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graft.PackedCountAgg.Strategy)
    e.injectOptimizerRule(_ => org.apache.spark.sql.graft.SingleTaskSort)
  }
}
