package graft.sources.n5

import java.nio.file.Files

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** How the element scan groups blocks into partitions on the 4-core spec
  * session: a box over many small blocks spreads over every core, a box
  * inside one block plans one partition, `maxBlocksPerPartition` still
  * caps the group, the public typed block view of `N5.read` keeps its
  * size target (the internal element-byte view spreads like the element
  * scan; see `WriteLayoutSpec`) and a sharded zarr v3 scan cuts only
  * between shards. Pushed results do not depend on
  * the layout. The scan also reports what it planned as driver metrics.
  */
class ElementScanPlanningSpec extends SparkSpec {

  // grid 3×3×3 of 16³ uint8 blocks, every block stored
  private val dims = Array(48L, 48L, 48L)
  private val attrs = DatasetAttributes(dims, Array(16, 16, 16), Dtype.UInt8,
    Compression("gzip"))

  /** The volume, voxel (x,y,z) = (7x + 3y + z) mod 256, written with the
    * given writer options; shards are 2×2×2 chunks.
    */
  private def volume(opts: Map[String, String]): String = {
    val root = Files.createTempDirectory("scanplan").toString
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), dims)
      .select(col("x"), col("y"), col("z"),
        ((col("x") * 7 + col("y") * 3 + col("z")) % 256).cast("short").as("v"))
    // one task, shard by shard, so a shard's inner chunks reach one writer
    // consecutively
    N5.blocksFromElements(elems, attrs).repartition(1)
      .sortWithinPartitions(col("gx").bitwiseAND(-2), col("gy").bitwiseAND(-2),
        col("gz").bitwiseAND(-2))
      .write.format("n5").option("dataset", "v")
      .option("dimensions", dims.mkString(","))
      .option("blockSize", attrs.blockSize.mkString(","))
      .option("dataType", attrs.dataType.name)
      .options(opts).mode("append").save(root)
    root
  }

  private lazy val n5 = volume(Map("compression" -> "gzip"))
  private lazy val sharded = volume(Map("format" -> "zarr3", "compression" -> "gzip",
    "shardChunks" -> "2,2,2"))

  private val every = (Array(1L, 1L, 1L), Array(47L, 47L, 47L)) // meets all 27 blocks
  private val inOne = (Array(2L, 3L, 4L), Array(10L, 12L, 14L))

  private def box(root: String, b: (Array[Long], Array[Long])): DataFrame =
    N5.readBox(spark, root, "v", b._1, b._2)

  /** `box` over an element scan with extra reader options. */
  private def scanBox(root: String, b: (Array[Long], Array[Long]),
      opts: Map[String, String]): DataFrame =
    spark.read.format("n5").option("dataset", "v").option("view", "elements")
      .options(opts).load(root)
      .filter(col("x") >= b._1(0) && col("x") < b._2(0) && col("y") >= b._1(1) &&
        col("y") < b._2(1) && col("z") >= b._1(2) && col("z") < b._2(2))

  private def partitions(df: DataFrame): Seq[Seq[Seq[Int]]] =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
      .inputPartitions.toSeq.map(_.asInstanceOf[N5BlocksPartition].grids.toSeq.map(_.toSeq))

  private def pushed(df: DataFrame): Seq[Any] =
    df.agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("v")),
      count(when(col("v") >= 128, 1))).collect()(0).toSeq

  test("a 27-block box plans one partition per core, a 1-block box one") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val parts = partitions(box(n5, every))
    assert(parts.length == 4 && parts.forall(_.length <= 7), parts.map(_.length))
    assert(parts.flatten.distinct.length == 27)
    assert(partitions(box(n5, inOne)).map(_.length) == Seq(1))
  }

  test("maxBlocksPerPartition=1 still plans one partition per block") {
    val parts = partitions(scanBox(n5, every, Map("maxBlocksPerPartition" -> "1")))
    assert(parts.length == 27 && parts.forall(_.length == 1))
  }

  test("the block view keeps its size target: a small volume is one partition") {
    assert(partitions(N5.read(spark, n5, "v")).map(_.length) == Seq(27))
  }

  test("a sharded zarr v3 element scan spreads but never splits a shard") {
    val parts = partitions(box(sharded, every))
    assert(parts.length > 1 && parts.flatten.distinct.length == 27, parts)
    val shardsOf = parts.map(_.map(g => g.map(_ / 2)).toSet)
    for (i <- shardsOf.indices; j <- shardsOf.indices if i < j)
      assert(shardsOf(i).intersect(shardsOf(j)).isEmpty, s"a shard is split: $parts")
  }

  test("pushed results do not depend on the partition layout") {
    for (b <- Seq(every, inOne)) {
      // v + 0 is refused, so this one aggregates the scan's voxel rows
      val want = box(n5, b).agg(count(lit(1)), sum(col("v") + 0), min(col("v") + 0),
        max(col("v") + 0), count(when(col("v") + 0 >= 128, 1))).collect()(0).toSeq
      assert(want.head == (b._2(0) - b._1(0)) * (b._2(1) - b._1(1)) * (b._2(2) - b._1(2)))
      for (df <- Seq(box(n5, b), box(sharded, b),
          scanBox(n5, b, Map("maxBlocksPerPartition" -> "1")),
          scanBox(sharded, b, Map("maxBlocksPerPartition" -> "1"))))
        assert(pushed(df).map(_.toString) == want.map(_.toString))
    }
  }

  test("the scan reports the partitions and blocks it planned") {
    def driver(b: (Array[Long], Array[Long])) = N5ScanMetricsSpec.scanMetrics(spark,
      box(n5, b).agg(count(lit(1)), sum(col("v"))), N5ReadMetrics.driver)
    assert(driver(inOne) == Map("n5 scan partitions" -> 1L, "n5 blocks planned" -> 1L))
    assert(driver(every) == Map("n5 scan partitions" -> 4L, "n5 blocks planned" -> 27L))
  }
}
