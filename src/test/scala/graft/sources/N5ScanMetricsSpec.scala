package graft.sources.n5

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.execution.ui.SQLExecutionUIData
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The N5 scan reports blocks read, blocks filled, rows emitted and
  * compressed bytes read as Spark custom metrics; the values are read back
  * from the SQL status store, where Spark's UI and listeners see them.
  */
class N5ScanMetricsSpec extends SparkSpec {

  /** 64×64×32 uint8, 32³ blocks (grid 2×2×1); block (1,0,0) is absent. */
  private lazy val root: String = {
    val root = Files.createTempDirectory("scanmetrics").toString + "/m.n5"
    val attrs = DatasetAttributes(Array(64L, 64L, 32L), Array(32, 32, 32),
      Dtype.UInt8, Compression("gzip"))
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(64L, 64L, 32L))
      .filter(!(col("x") >= 32 && col("y") < 32))
      .select(col("x"), col("y"), col("z"),
        ((col("x") * 7 + col("y") * 3 + col("z")) % 256).cast("short").as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), root, "v", attrs)
    root
  }

  private def blockFile(g: String): Path = Paths.get(root, "v", g)

  private def metrics(df: DataFrame): Map[String, Long] =
    N5ScanMetricsSpec.scanMetrics(spark, df, N5ReadMetrics.supported)

  private def box(lo: Long, hi: Long) =
    N5.readBox(spark, root, "v", Array(lo, lo, lo), Array(hi, hi, hi))

  test("a 16³ box inside one block reads that block: 4096 rows, or 1 pushed") {
    val bytes = Files.size(blockFile("0/0/0"))
    // max(x) is refused, so Spark aggregates the scan's voxel rows
    val rows = metrics(box(4, 20).agg(sum(col("v")), max(col("x"))))
    assert(rows == Map("n5 blocks read" -> 1L, "n5 absent blocks filled" -> 0L,
      "n5 rows emitted" -> 4096L, "n5 compressed bytes read" -> bytes))
    val pushed = metrics(box(4, 20).agg(sum(col("v")), count(lit(1))))
    assert(pushed == Map("n5 blocks read" -> 1L, "n5 absent blocks filled" -> 0L,
      "n5 rows emitted" -> 1L, "n5 compressed bytes read" -> bytes))
  }

  test("a box over one absent block fills it and reads nothing") {
    val m = metrics(N5.readBox(spark, root, "v", Array(40L, 4L, 4L),
      Array(56L, 20L, 20L)).agg(sum(col("v")), max(col("x"))))
    assert(m == Map("n5 blocks read" -> 0L, "n5 absent blocks filled" -> 1L,
      "n5 rows emitted" -> 4096L, "n5 compressed bytes read" -> 0L))
  }

  test("compressed bytes read equal the block files' sizes on disk") {
    val files = {
      val s = Files.walk(Paths.get(root, "v"))
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)
        && p.getFileName.toString.forall(_.isDigit)).toList
      finally s.close()
    }
    assert(files.length == 3)
    val m = metrics(N5.elementsScan(spark, root, "v").agg(sum(col("v"))))
    assert(m("n5 blocks read") == 3L)
    assert(m("n5 compressed bytes read") == files.map(Files.size).sum)
    // the block view reads the same files
    val b = metrics(N5.read(spark, root, "v").select(col("data")))
    assert(b("n5 blocks read") == 3L && b("n5 rows emitted") == 3L)
    assert(b("n5 compressed bytes read") == files.map(Files.size).sum)
  }
}

object N5ScanMetricsSpec {
  /** Runs `action` on `df` (by default `collect`) and returns its SQL
    * execution as the status store holds it once finished. The run is
    * tagged with a job description of its own, so a straggling event of
    * an earlier query, which the asynchronous listener bus may still be
    * delivering, is never mistaken for it.
    */
  def execution(spark: SparkSession, df: DataFrame,
      action: DataFrame => Any = _.collect()): SQLExecutionUIData = {
    val store = spark.sharedState.statusStore
    val tag = tagged(spark)(action(df))
    val deadline = System.nanoTime() + 30L * 1000000000L
    def finished = store.executionsList()
      .find(e => e.description == tag && e.completionTime.isDefined)
    while (finished.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    finished.getOrElse(throw new AssertionError(s"no finished SQL execution for $tag"))
  }

  /** Every SQL execution `action` ran, in order. A tagged one-row query
    * run after it is awaited through [[execution]]; the status store
    * handles events in order, so by then it holds all of the action's.
    */
  def executions(spark: SparkSession)(action: => Any): Seq[SQLExecutionUIData] = {
    val tag = tagged(spark)(action)
    execution(spark, spark.range(1).toDF())
    spark.sharedState.statusStore.executionsList()
      .filter(_.description == tag).sortBy(_.executionId)
  }

  /** Runs `action` under a job description of its own and returns it. */
  private def tagged(spark: SparkSession)(action: => Any): String = {
    val sc = spark.sparkContext
    val tag = s"n5-scan-spec-${tags.incrementAndGet()}"
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try action
    finally sc.setJobDescription(prev)
    tag
  }

  private val tags = new java.util.concurrent.atomic.AtomicLong

  /** The `declared` N5 scan metrics of running `df`, by description, as
    * the SQL status store holds them once the execution has finished.
    */
  def scanMetrics(
      spark: SparkSession, df: DataFrame, declared: Array[CustomMetric]): Map[String, Long] = {
    val store = spark.sharedState.statusStore
    val exec = execution(spark, df)
    val deadline = System.nanoTime() + 30L * 1000000000L
    var values = store.executionMetrics(exec.executionId)
    while (values.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      values = store.executionMetrics(exec.executionId)
    }
    val names = declared.map(_.description()).toSet
    store.planGraph(exec.executionId).allNodes.flatMap(_.metrics)
      .filter(m => names(m.name) && values.contains(m.accumulatorId))
      .map(m => m.name -> values(m.accumulatorId).replace(",", "").toLong).toMap
  }
}
