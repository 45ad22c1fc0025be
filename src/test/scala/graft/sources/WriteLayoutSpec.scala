package graft.sources.n5

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}
import graft.sources.tiff.{TiffIO, TiffVolume}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** How the volume pipeline's writes spread over the 4-core spec session.
  * A 64-slice 128×128 series is ingested as 16 blocks of 32×32×64, each
  * pasted from 64 slice fragments; rechunked to 4 blocks of 64³, each
  * pasted from 4 source blocks; and exported as 64 pages, each pasted
  * from 16 block fragments. Every paste stage runs one task per core with
  * the same number of blocks or pages, and the element-byte block read
  * behind rechunk spreads over the cores too. The same calls on a
  * session planned for one core (leaf parallelism and shuffle partitions
  * 1, as `local[1]` plans them) run every paste in one task and write the
  * same bytes.
  *
  * Stages and their tasks come from the SQL status store (the
  * executions each call ran) and the status tracker; the fragments each
  * task pasted are its shuffle records read, seen by a listener.
  */
class WriteLayoutSpec extends SparkSpec {

  private val (w, h, depth) = (128, 128, 64)

  private lazy val slices: String = {
    val dir = Files.createTempDirectory("layout-slices")
    for (z <- 0 until depth) {
      val px = Array.tabulate(w * h)(i => (i % w * 7 + i / w * 3 + z * 5) % 256)
      Files.write(dir.resolve(f"slice_$z%05d.tif"), TiffIO.encode(w, h, px, 8))
    }
    dir.toString
  }

  /** Per stage, the (shuffle records read, written) of each finished task. */
  private object Tasks extends SparkListener {
    private val seen = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[(Long, Long)]]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo.successful && e.taskMetrics != null)
        seen.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue).add((
          e.taskMetrics.shuffleReadMetrics.recordsRead,
          e.taskMetrics.shuffleWriteMetrics.recordsWritten))
    def of(stage: Int): Seq[(Long, Long)] =
      Option(seen.get(stage)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  /** What a call's stages did, one entry per stage that ran tasks: the
    * shuffle records each task read and wrote, sorted.
    */
  final case class Layout(read: Seq[Seq[Long]], written: Seq[Seq[Long]])

  private def layout(s: SparkSession)(call: => Any): Layout = {
    val stages = N5ScanMetricsSpec.executions(s)(call).flatMap(_.stages).distinct.sorted
    val tracker = s.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000000000L
    def pending = stages.exists(st =>
      Tasks.of(st).size < tracker.getStageInfo(st).map(_.numCompletedTasks).getOrElse(0))
    while (pending && System.nanoTime() < deadline) Thread.sleep(20)
    val tasks = stages.map(Tasks.of).filter(_.nonEmpty)
    Layout(tasks.map(_.map(_._1).sorted), tasks.map(_.map(_._2).sorted))
  }

  /** The ingest, rechunk and export of the series under `out` in `s`. */
  private def pipeline(s: SparkSession, out: String): Map[String, Layout] = {
    val root = s"$out/v.n5"
    Map(
      "ingest" -> layout(s)(TiffVolume.ingestSlices(s, slices, root, "s0", Array(32, 32, 64))),
      "rechunk" -> layout(s)(N5.rechunk(s, root, "s0", root, "re", Array(64, 64, 64))),
      "export" -> layout(s)(TiffVolume.exportSlices(s, root, "s0", s"$out/tif")))
  }

  private lazy val listening: Unit = spark.sparkContext.addSparkListener(Tasks)

  private lazy val (cores, coresOut): (Map[String, Layout], String) = {
    listening
    val out = Files.createTempDirectory("layout-cores").toString
    (pipeline(spark, out), out)
  }

  private lazy val (oneCore, oneCoreOut): (Map[String, Layout], String) = {
    listening
    val one = spark.newSession()
    one.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    one.conf.set("spark.sql.shuffle.partitions", "1")
    val out = Files.createTempDirectory("layout-one").toString
    (pipeline(one, out), out)
  }

  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(Tasks)

  test("a 16-block ingest encodes 4 blocks per task") {
    assert(spark.sparkContext.defaultParallelism == 4)
    // 4 blocks of 64 slice fragments in each task
    assert(cores("ingest").read.contains(Seq(256L, 256L, 256L, 256L)), cores("ingest"))
  }

  test("a rechunk to 4 output blocks reads on 4 cores and encodes 4 tasks of 1 block") {
    // 16 source blocks, 4 per read task, one fragment each
    assert(cores("rechunk").written.contains(Seq(4L, 4L, 4L, 4L)), cores("rechunk"))
    // one output block of 4 fragments in each task
    assert(cores("rechunk").read.contains(Seq(4L, 4L, 4L, 4L)), cores("rechunk"))
  }

  test("exportSlices of 64 slices pastes 16 pages per task") {
    // 16 pages of 16 block fragments in each task
    assert(cores("export").read.contains(Seq(256L, 256L, 256L, 256L)), cores("export"))
  }

  test("N5.readBytes of a 27-block volume plans 4 partitions, N5.read 1") {
    val root = Files.createTempDirectory("layout-read").toString
    val attrs = DatasetAttributes(Array(48L, 48L, 48L), Array(16, 16, 16), Dtype.UInt8,
      Compression("gzip"))
    N5.write(N5.blocksFromElements(N5.boxGrid(spark, Array(0L, 0L, 0L), attrs.dimensions)
      .withColumn("v", lit(1).cast("short")), attrs), root, "v", attrs)
    def partitions(df: DataFrame): Seq[Int] =
      df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
        .inputPartitions.map(_.asInstanceOf[N5BlocksPartition].grids.length)
    assert(partitions(N5.readBytes(spark, root, "v")) == Seq(7, 7, 7, 6))
    assert(partitions(N5.read(spark, root, "v")) == Seq(27))
  }

  test("every output is byte-equal to the same calls planned for one core") {
    // the reference run really is one task per paste
    assert(oneCore("ingest").read.contains(Seq(1024L)), oneCore("ingest"))
    assert(oneCore("rechunk").read.contains(Seq(16L)), oneCore("rechunk"))
    assert(oneCore("export").read.contains(Seq(1024L)), oneCore("export"))
    def files(dir: String): Map[String, Seq[Byte]] = {
      val base = Paths.get(dir)
      val s = Files.walk(base)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).map((p: Path) =>
        base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val (got, want) = (files(coresOut), files(oneCoreOut))
    // 16 + 4 blocks, two attributes.json, the root's and 64 pages
    assert(want.keySet.count(_.startsWith("tif/")) == depth)
    assert(want.keySet.count(_.startsWith("v.n5/s0/")) == 17, want.keySet)
    assert(want.keySet.count(_.startsWith("v.n5/re/")) == 5, want.keySet)
    assert(got.keySet == want.keySet)
    val differ = want.keySet.filter(k => got(k) != want(k))
    assert(differ.isEmpty, differ)
  }
}
