package graft

import graft.functions.{VectorDotF, VectorL2Norm}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the native codegen
  * expressions as SQL functions so `spark.sql("SELECT vector_dot(a, b)")`
  * works anywhere (pure SQL users, thrift server, notebooks), the
  * N5 box-pruning analyzer rule (element-coordinate range predicates →
  * block-grid pruning in the DSv2 scan), and the planner strategy that
  * answers a one-block N5 box aggregate on the driver, with no Spark job
  * ([[graft.sources.n5.N5DriverAggregateStrategy]]). A session without
  * the extensions runs that aggregate as one job.
  *
  * Usage: `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDotF].getName, "vector_dot"),
      GraftExtensions.dotBuilder))
    ext.injectFunction((
      new FunctionIdentifier("vector_l2_norm"),
      new ExpressionInfo(classOf[VectorL2Norm].getName, "vector_l2_norm"),
      GraftExtensions.normBuilder))
    ext.injectPostHocResolutionRule(s => graft.plans.N5BoxPruning(s))
    ext.injectPlannerStrategy(_ => graft.sources.n5.N5DriverAggregateStrategy)
  }
}

object GraftExtensions {
  private[graft] val dotBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "vector_dot(a, b) takes two arguments")
    VectorDotF(args(0), args(1))
  }
  private[graft] val normBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, "vector_l2_norm(a) takes one argument")
    VectorL2Norm(args(0))
  }

  /** Register the same functions on an already-running session (the
    * extensions path only applies at session build time).
    */
  def registerOn(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.GraftSqlBridge.registerFunction(
      spark, "vector_dot", dotBuilder)
    org.apache.spark.sql.GraftSqlBridge.registerFunction(
      spark, "vector_l2_norm", normBuilder)
  }
}
