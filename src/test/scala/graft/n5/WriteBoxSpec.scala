package graft.n5

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Ranged box upsert (reference write_n5_block semantics, with the
  * reference's lost-write bug fixed): voxels inside the box take the new
  * values, every voxel outside is preserved exactly, partial edge blocks
  * are read-modify-written.
  */
class WriteBoxSpec extends SparkSpec {

  private val fixtureRoot = "/root/reference/data/test.n5"
  private val fixtureDs = "mri/c0/s0"

  private def boxElems(start: Array[Long], end: Array[Long]) =
    N5.boxGrid(spark, start, end)
      .select(col("x"), col("y"), col("z"),
        ((col("x") + col("y") * 2 + col("z") * 3) % 200).as("v"))

  test("writeBox upserts the box and preserves everything outside (R2)") {
    val tmp = Files.createTempDirectory("wb").toString
    // private working copy of the fixture, 64^3 blocks so the box crosses
    // block boundaries and leaves partial blocks on every face
    N5.rechunk(spark, fixtureRoot, fixtureDs, s"$tmp/w.n5", "vol/s0",
      Array(64, 64, 64))
    val start = Array(10L, 20L, 3L)
    val end = Array(150L, 100L, 20L)

    val before = N5.elements(N5.read(spark, s"$tmp/w.n5", "vol/s0"))
      .agg(sum(col("v")), count(lit(1))).collect()(0)
    val oldBoxSum = N5.readBox(spark, s"$tmp/w.n5", "vol/s0", start, end)
      .agg(sum(col("v"))).collect()(0).getLong(0)
    val newBoxSum = boxElems(start, end)
      .agg(sum(col("v"))).collect()(0).getLong(0)

    N5.writeBox(spark, s"$tmp/w.n5", "vol/s0", start, end,
      boxElems(start, end))

    val after = N5.elements(N5.read(spark, s"$tmp/w.n5", "vol/s0"))
      .agg(sum(col("v")), count(lit(1))).collect()(0)
    assert(after.getLong(1) == before.getLong(1), "voxel count changed")
    assert(after.getLong(0) == before.getLong(0) - oldBoxSum + newBoxSum,
      "voxels outside the box were not preserved exactly")
    // the box itself now holds the new values
    val boxNow = N5.readBox(spark, s"$tmp/w.n5", "vol/s0", start, end)
      .agg(sum(col("v"))).collect()(0).getLong(0)
    assert(boxNow == newBoxSum)
  }

  test("writeBox rejects out-of-range values instead of wrapping") {
    val tmp = Files.createTempDirectory("wbr").toString
    N5.rechunk(spark, fixtureRoot, fixtureDs, s"$tmp/r.n5", "vol/s0",
      Array(64, 64, 64))
    val bad = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(8L, 8L, 2L))
      .select(col("x"), col("y"), col("z"), lit(1000L).as("v"))
    val ex = intercept[org.apache.spark.SparkException] {
      N5.writeBox(spark, s"$tmp/r.n5", "vol/s0",
        Array(0L, 0L, 0L), Array(8L, 8L, 2L), bad)
    }
    assert(ex.getMessage.contains("outside uint8 range")
      || String.valueOf(ex.getCause).contains("outside uint8 range"))
  }

  test("writeBox rejects non-integral values for integer dtypes") {
    val tmp = Files.createTempDirectory("wbni").toString
    N5.rechunk(spark, fixtureRoot, fixtureDs, s"$tmp/n.n5", "vol/s0",
      Array(64, 64, 64))
    // 3.7 must fail loudly, not truncate to 3 (ANSI cast only catches overflow)
    val bad = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(4L, 4L, 2L))
      .select(col("x"), col("y"), col("z"), lit(3.7d).as("v"))
    val ex = intercept[Exception] {
      N5.writeBox(spark, s"$tmp/n.n5", "vol/s0",
        Array(0L, 0L, 0L), Array(4L, 4L, 2L), bad)
    }
    val msg = ex.getMessage + String.valueOf(ex.getCause)
    assert(msg.contains("non-integral"), msg.take(300))
  }

  test("duplicate rows reaching block volume still read the stored block") {
    val tmp = Files.createTempDirectory("wbdup").toString
    val attrs = DatasetAttributes(Array(4L, 2L, 1L), Array(4, 2, 1),
      Dtype.UInt8, Compression("raw"))
    val base = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(4L, 2L, 1L))
      .select(col("x"), col("y"), col("z"), lit(9).as("v"))
    N5.write(N5.blocksFromElements(base, attrs), s"$tmp/d.n5", "vol/s0", attrs)
    // 8 input rows = block volume, but only 4 DISTINCT voxels (x<2 twice
    // each): coverage must be judged by distinct voxels, so the uncovered
    // half keeps its stored 9s instead of being silently zeroed
    val half = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(2L, 2L, 1L))
      .select(col("x"), col("y"), col("z"), lit(5).as("v"))
    N5.writeBox(spark, s"$tmp/d.n5", "vol/s0",
      Array(0L, 0L, 0L), Array(4L, 2L, 1L), half.union(half))
    val vs = N5.elements(N5.read(spark, s"$tmp/d.n5", "vol/s0"))
      .orderBy(col("z"), col("y"), col("x"))
      .select(col("x"), col("v")).collect()
    assert(vs.forall(r =>
      r.getShort(1) == (if (r.getLong(0) < 2) 5 else 9)),
      vs.map(r => s"${r.getLong(0)}:${r.getShort(1)}").mkString(","))
  }

  test("writeBox on a float dataset preserves float payloads bit-exactly") {
    val tmp = Files.createTempDirectory("wbf").toString
    val attrs = DatasetAttributes(Array(32L, 32L, 8L), Array(16, 16, 8),
      Dtype.Float32, Compression("gzip"))
    val base = spark.range(32L * 32 * 8).select(
      expr("id % 32").as("x"), expr("(id div 32) % 32").as("y"),
      expr("id div 1024").as("z"),
      (col("id") % 7).cast("float").as("v"))
    N5.write(N5.blocksFromElements(base, attrs), s"$tmp/f.n5", "vol/s0", attrs)

    val start = Array(5L, 5L, 2L)
    val end = Array(20L, 30L, 6L)
    val patch = spark.range(15L * 25 * 4).select(
      expr("id % 15 + 5").as("x"), expr("(id div 15) % 25 + 5").as("y"),
      expr("id div 375 + 2").as("z"),
      lit(2.5f).as("v"))
    N5.writeBox(spark, s"$tmp/f.n5", "vol/s0", start, end, patch)

    val e = N5.elements(N5.read(spark, s"$tmp/f.n5", "vol/s0"))
    val inside = e.filter(col("x").between(5, 19) && col("y").between(5, 29)
      && col("z").between(2, 5))
    assert(inside.filter(col("v") =!= 2.5f).count() == 0)
    val outsideCount = e.count() - inside.count()
    // outside voxels keep base formula values (id % 7 as float)
    val outsideOk = e.filter(!(col("x").between(5, 19) && col("y").between(5, 29)
      && col("z").between(2, 5)))
      .filter(col("v") =!= ((col("x") + col("y") * 32 + col("z") * 1024) % 7).cast("float"))
    assert(outsideOk.count() == 0 && outsideCount > 0)
  }
}
