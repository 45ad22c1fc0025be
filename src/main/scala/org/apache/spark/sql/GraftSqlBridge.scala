package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into `private[sql]` surface: Column <-> Expression
  * conversion, needed to expose native Catalyst expressions (e.g.
  * graft.functions.VectorL2Norm) through the public Column API.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on an ALREADY-RUNNING session (extensions can
    * only bind at build time; driver-provided sessions need this path).
    */
  def registerFunction(
      spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Free the cached blocks behind a `localCheckpoint`ed Dataset (r20).
    * Iterative operators retire one checkpointed label/rank vector per
    * round; left to the async ContextCleaner those blocks pile up until
    * a later GC and the cleanup steals time from whatever query runs
    * NEXT (measured: queries following checkpoint-heavy ones drifted
    * +0.2–0.7 s). Unpersisting the retired round's RDD directly frees
    * the blocks on the spot. Only a bare checkpoint is accepted: a
    * LogicalRDD, optionally under one Project. Any other plan may read
    * checkpoints that are still live elsewhere, so it is rejected rather
    * than having every LogicalRDD in it freed.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case Project(_, r: LogicalRDD) => r.rdd.unpersist(blocking = false)
      case p => throw new IllegalArgumentException(
        s"unpersistCheckpoint needs a bare checkpoint, got:\n$p")
    }

  /** The number of partitions Spark aims a leaf scan at:
    * `spark.sql.leafNodeDefaultParallelism`, else the context's default
    * parallelism (its core count in local mode). File sources size their
    * splits by the same number (`FilePartition.maxSplitBytes`).
    */
  def leafNodeParallelism(spark: SparkSession): Int =
    castToImpl(spark).leafNodeDefaultParallelism

  /** `df.localCheckpoint()` planned with AQE off, on a clone of `df`'s
    * session, so the caller's session is never touched; the result is
    * bound back to the caller's session. See `graft.operators.LoopStatic`
    * for why loop-static relations are checkpointed this way.
    */
  def checkpointNonAdaptive(df: DataFrame): DataFrame = {
    val parent = castToImpl(df.sparkSession)
    val clone = parent.cloneSession()
    clone.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    val cp = classic.Dataset.ofRows(clone, castToImpl(df).logicalPlan)
      .localCheckpoint()
    classic.Dataset.ofRows(parent, cp.logicalPlan)
  }
}
