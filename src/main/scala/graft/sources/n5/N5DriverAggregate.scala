package graft.sources.n5

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, InterpretedUnsafeProjection, NamedExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** A complete one-block aggregate pushdown answered on the driver: the
  * scan's one row, read when the plan executes, under the query's
  * projection. `collect`, `first` and `take` start no Spark job, so a box
  * query that meets one block pays no job scheduling and no closure
  * cleaning. The node reports the scan's own metrics, task-side and
  * driver-side, as driver metrics of the query's execution. As a child of
  * another operator it runs through [[doExecute]], one partition of the
  * row.
  */
case class N5DriverAggregateExec(
    project: Seq[NamedExpression], scanOutput: Seq[Attribute], scan: N5Scan)
    extends LeafExecNode {

  override def output: Seq[Attribute] = project.map(_.toAttribute)

  override lazy val metrics: Map[String, SQLMetric] =
    scan.supportedCustomMetrics().map(m =>
      m.name() -> SQLMetrics.createV2CustomMetric(sparkContext, m)).toMap

  private def rows(): Array[InternalRow] = {
    val (row, values) = scan.aggregateRow()
    values.foreach(v => metrics(v.name()).set(v.value()))
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(project, scanOutput))
    proj.initialize(0)
    Array(proj(row).copy())
  }

  override def executeCollect(): Array[InternalRow] = rows()
  override def executeTake(n: Int): Array[InternalRow] = rows().take(n)
  override def executeTail(n: Int): Array[InternalRow] = rows().takeRight(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows().toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"$nodeName${truncatedString(output, "[", ", ", "]", maxFields)} ${scan.description()}"

  override def verboseStringWithOperatorId(): String =
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Output", output)}
       |${scan.description()}
       |""".stripMargin
}

/** Plans a projection over an [[N5Scan]] that is a complete one-block
  * aggregate as [[N5DriverAggregateExec]]. The projection is folded into
  * the node: left above a driver-side leaf, whole-stage codegen would take
  * both in and `collect` would run a job again.
  */
object N5DriverAggregateStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, Nil, r @ DataSourceV2ScanRelation(_, s: N5Scan, _, _, _))
        if s.completeAggregate =>
      N5DriverAggregateExec(project, r.output, s) :: Nil
    case _ => Nil
  }
}
