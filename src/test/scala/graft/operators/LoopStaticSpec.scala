package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkSpec
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Loop-static pinning and checkpoint lifecycle: the pinned relation keeps
  * its hash partitioning under AQE, the session's AQE flag is never
  * flipped while the iterative operators pin, and freeing accepts only a
  * bare checkpoint.
  */
class LoopStaticSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val aqe = "spark.sql.adaptive.enabled"

  test("pin keeps hashpartitioning(key) under AQE; a join exchanges only " +
    "the other side") {
    assert(spark.conf.get(aqe) == "true")
    // one row over the 2M rows-per-partition size: two partitions (one
    // partition would plan as SinglePartition)
    val n = 2000001L
    val (pinned, rows) = LoopStatic.pin(
      spark.range(n).select(col("id").as("a"), (col("id") % 1000).as("b")), "b")
    assert(rows == n)
    val rdd = pinned.queryExecution.analyzed match {
      case r: LogicalRDD => r
      case p => fail(s"pin did not return a bare checkpoint:\n$p")
    }
    rdd.outputPartitioning match {
      case HashPartitioning(Seq(k: Attribute), 2) => assert(k.name == "b")
      case p => fail(s"pinned partitioning lost: $p")
    }
    // an AQE-on label vector: its checkpoint carries UnknownPartitioning
    val labels = spark.range(1000)
      .select(col("id").as("b"), (col("id") % 3).as("lbl")).localCheckpoint()
    val joined = pinned.hint("shuffle_merge").join(labels, "b")
      .agg(count(lit(1)), sum(col("lbl")))
    val r = joined.collect().head
    assert(r.getLong(0) == n && r.getLong(1) == (0L until n).map(i => i % 1000 % 3).sum)
    val exchanges = collect(joined.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    def readsPinned(e: ShuffleExchangeExec): Boolean =
      e.exists { case s: RDDScanExec => s.rdd.id == rdd.rdd.id; case _ => false }
    assert(exchanges.size == 1 && !readsPinned(exchanges.head),
      s"expected one hash exchange, over the label side only: $exchanges")
    GraftSqlBridge.unpersistCheckpoint(pinned)
    GraftSqlBridge.unpersistCheckpoint(labels)
  }

  test("CC, PageRank and LPA never flip the session's AQE flag") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L), (2L, 5L))
    val nodes = (0L to 5L).toDF("node")
    val sawOff = new AtomicBoolean(false)
    val stop = new AtomicBoolean(false)
    val watcher = new Thread(() =>
      while (!stop.get) {
        if (spark.conf.get(aqe) == "false") sawOff.set(true)
        Thread.sleep(1)
      })
    watcher.start()
    try {
      ConnectedComponents.run(edges.toDF("a", "b"), "a", "b").collect()
      PageRank.run(nodes, edges.toDF("src", "dst"), maxIters = 3,
        redistributeDangling = true).ranks.collect()
      LabelPropagation.run(nodes, edges.toDF("src", "dst"), 3).collect()
    } finally {
      stop.set(true)
      watcher.join()
    }
    assert(!sawOff.get, s"$aqe read false while the operators ran")
    assert(spark.conf.get(aqe) == "true")
  }

  test("unpersistCheckpoint rejects a plan over two live checkpoints") {
    val x = spark.range(10).toDF("b").localCheckpoint()
    val y = spark.range(5).toDF("b").localCheckpoint()
    val e = intercept[IllegalArgumentException](
      GraftSqlBridge.unpersistCheckpoint(x.join(y, "b")))
    assert(e.getMessage.contains("Join"), e.getMessage)
    val ids = Seq(x, y).map(_.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id)
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))
    assert(x.count() == 10 && y.count() == 5)
    // a bare checkpoint, alone or under one Project, is freed
    GraftSqlBridge.unpersistCheckpoint(x.select("b"))
    GraftSqlBridge.unpersistCheckpoint(y)
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains))
  }
}
