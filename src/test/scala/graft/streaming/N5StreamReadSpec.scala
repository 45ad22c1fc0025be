package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming N5 SOURCE: readStream.format("n5") delivers each block once,
  * incrementally, across restarts from the checkpoint — the
  * live-acquisition read path matching the streaming sink.
  */
class N5StreamReadSpec extends SparkSpec {

  private val attrs = DatasetAttributes(Array(64L, 64L, 64L), Array(32, 32, 32),
    Dtype.UInt8, Compression("gzip"))

  /** Write the blocks whose gz equals the given value (z-slab of blocks). */
  private def writeSlab(root: String, gz: Int): Unit = {
    val elems = N5.boxGrid(spark, Array(0L, 0L, gz * 32L),
      Array(64L, 64L, (gz + 1) * 32L))
      .select(col("x"), col("y"), col("z"),
        ((col("x") + col("y") + col("z")) % 256).as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), root, "vol/s0", attrs)
  }

  /** Drain the stream into a parquet sink (supports checkpoint recovery,
    * unlike the memory sink).
    */
  private def runOnce(root: String, ckpt: String, out: String): Unit = {
    val q = spark.readStream.format("n5")
      .option("dataset", "vol/s0").load(root)
      .select(col("gx"), col("gy"), col("gz"), size(col("data")).as("n"),
        aggregate(col("data"), lit(0L), (a, x) => a + x).as("s"))
      .writeStream.format("parquet")
      .outputMode(OutputMode.Append())
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("blocks stream exactly once across batches and restarts") {
    val tmp = Files.createTempDirectory("n5stream").toString
    val root = s"$tmp/s.n5"
    val ckpt = s"$tmp/ckpt"
    val out = s"$tmp/out"

    writeSlab(root, 0) // 4 blocks at gz=0
    runOnce(root, ckpt, out)
    val first = spark.read.parquet(out).collect()
    assert(first.length == 4, s"expected 4 blocks, got ${first.length}")
    assert(first.forall(_.getAs[Int]("n") == 32 * 32 * 32))
    assert(first.forall(_.getAs[Int]("gz") == 0))

    writeSlab(root, 1) // 4 more blocks at gz=1
    runOnce(root, ckpt, out) // same checkpoint: only the NEW slab arrives
    val all = spark.read.parquet(out).collect()
    assert(all.length == 8, s"restart re-delivered blocks: ${all.length}")
    assert(all.count(_.getAs[Int]("gz") == 1) == 4)

    // streamed content matches the batch scan of the same blocks
    val batch = N5.read(spark, root, "vol/s0")
      .select(col("gx"), col("gy"), col("gz"),
        aggregate(col("data"), lit(0L), (a, x) => a + x).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    all.foreach { r =>
      val k = (r.getAs[Int]("gx"), r.getAs[Int]("gy"), r.getAs[Int]("gz"))
      assert(r.getAs[Long]("s") == batch(k), s"block $k content mismatch")
    }
  }

  test("a rewritten block (newer mtime) is re-delivered") {
    val tmp = Files.createTempDirectory("n5streamrw").toString
    val root = s"$tmp/rw.n5"
    val ckpt = s"$tmp/ckpt"
    val out = s"$tmp/out"

    writeSlab(root, 0)
    runOnce(root, ckpt, out)
    assert(spark.read.parquet(out).count() == 4)

    // rewrite the SAME slab: paths identical, mtimes newer. The offset's
    // recent set keys by path@mtime, so the new versions must be admitted
    // even though every path was just delivered (a path-only dedup set
    // would suppress them forever — ADVICE r3).
    Thread.sleep(20)
    writeSlab(root, 0)
    runOnce(root, ckpt, out)
    val all = spark.read.parquet(out).collect()
    assert(all.length == 8, s"rewritten blocks not re-delivered: ${all.length}")
    assert(all.forall(_.getAs[Int]("gz") == 0))
  }

  test("maxBlocksPerBatch splits a catch-up backlog into bounded batches") {
    val tmp = Files.createTempDirectory("n5streamcap").toString
    val root = s"$tmp/cap.n5"
    writeSlab(root, 0)
    Thread.sleep(20) // distinct mtimes: the cap cuts at mtime granularity
    writeSlab(root, 1)

    val q = spark.readStream.format("n5")
      .option("dataset", "vol/s0")
      .option("maxBlocksPerBatch", "3")
      .load(root)
      .select(col("gx"), col("gy"), col("gz"))
      .writeStream.format("parquet")
      .outputMode(OutputMode.Append())
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // all 8 blocks exactly once, but across >1 batch: slab 0's four blocks
    // share a cut mtime (tie-extended past the cap of 3), slab 1 follows
    val rows = spark.read.parquet(s"$tmp/out")
      .select(col("gx"), col("gy"), col("gz")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(rows.length == 8 && rows.toSet.size == 8,
      s"expected 8 distinct blocks, got ${rows.length}")
    val batches = new java.io.File(s"$tmp/ckpt/offsets").list()
      .count(_.forall(_.isDigit))
    assert(batches >= 2, s"backlog drained in $batches batch(es), cap ignored")
  }

  test("offset JSON round-trips path@mtime entries") {
    import graft.sources.n5.N5MicroBatchStream.N5SourceOffset
    val off = N5SourceOffset(1723400000123L, Seq("0/0/0@1723400000123", "1/1/0@1723399999999"))
    assert(N5SourceOffset.fromJson(off.json()) == off)
    // legacy path-only entries (pre-versioned-offset checkpoints) are KEPT:
    // they still suppress already-delivered blocks up to the watermark, so
    // a checkpoint upgrade cannot re-deliver grace-window blocks
    val legacy = N5SourceOffset.fromJson("""{"watermark":5,"recent":["0/0/0"]}""")
    assert(legacy == N5SourceOffset(5L, Seq("0/0/0")))
  }

  test("grid filters prune the streaming walk") {
    val tmp = Files.createTempDirectory("n5streamf").toString
    val root = s"$tmp/f.n5"
    writeSlab(root, 0)
    writeSlab(root, 1)
    val q = spark.readStream.format("n5")
      .option("dataset", "vol/s0").load(root)
      .where(col("gz") === 0 && col("gx") === 0)
      .select(col("gx"), col("gy"), col("gz"))
      .writeStream.format("parquet")
      .outputMode(OutputMode.Append())
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.read.parquet(s"$tmp/out").collect()
    assert(rows.length == 2, s"expected the 2 gx=0,gz=0 blocks: ${rows.length}")
    assert(rows.forall(r => r.getAs[Int]("gz") == 0 && r.getAs[Int]("gx") == 0))
  }

  test("zarr v2 '.'-keyed and zarr v3 datasets stream the batch scan's blocks") {
    for ((fmt, sep) <- Seq(("zarr", "."), ("zarr3", "/"))) {
      val tmp = Files.createTempDirectory(s"n5stream$fmt").toString
      val root = s"$tmp/z"
      val za = DatasetAttributes(Array(24L, 20L, 16L), Array(8, 8, 8),
        Dtype.UInt8, Compression("gzip"), format = fmt, zarrSeparator = sep)
      val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), za.dimensions)
        .select(col("x"), col("y"), col("z"),
          ((col("x") + col("y") * 2 + col("z") * 3) % 256).as("v"))
      N5.write(N5.blocksFromElements(elems, za), root, "vol/s0", za)
      runOnce(root, s"$tmp/ckpt", s"$tmp/out")
      val streamed = spark.read.parquet(s"$tmp/out").collect()
        .map(r => (r.getAs[Int]("gx"), r.getAs[Int]("gy"), r.getAs[Int]("gz")) ->
          r.getAs[Long]("s")).toMap
      val batch = N5.read(spark, root, "vol/s0")
        .select(col("gx"), col("gy"), col("gz"),
          aggregate(col("data"), lit(0L), (a, x) => a + x).as("s"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
        .toMap
      assert(batch.size == 3 * 3 * 2, s"$fmt batch scan: ${batch.size} blocks")
      assert(streamed == batch, s"$fmt stream delivered ${streamed.size} blocks")
    }
  }
}
