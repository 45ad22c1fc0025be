package graft.n5

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sparse volumes: missing block files are legal (zarr/N5 fill-value
  * semantics). The block scan lists only stored blocks; readBox fills the
  * gaps with zeros so a box read is always dense, like
  * `da.from_zarr(...)[slices]` in the reference.
  */
class SparseVolumeSpec extends SparkSpec {

  /** 64x64x16 uint8 volume, 32^3 blocks (grid 2x2x1) — but only TWO of
    * the four blocks are written: (0,0,0) and (1,1,0).
    */
  private lazy val root: String = {
    val tmp = Files.createTempDirectory("sparse").toString
    val attrs = DatasetAttributes(Array(64L, 64L, 16L), Array(32, 32, 32),
      Dtype.UInt8, Compression("gzip"))
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(64L, 64L, 16L))
      .select(col("x"), col("y"), col("z"),
        ((col("x") + col("y") + col("z")) % 251 + 1).as("v")) // never 0
      .filter((col("x") < 32 && col("y") < 32)
        || (col("x") >= 32 && col("y") >= 32))
    N5.write(N5.blocksFromElements(elems, attrs), s"$tmp/s.n5", "vol/s0", attrs)
    s"$tmp/s.n5"
  }

  test("block scan lists only stored blocks") {
    val grids = N5.read(spark, root, "vol/s0")
      .select(col("gx"), col("gy"), col("gz")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(grids == Set((0, 0, 0), (1, 1, 0)))
  }

  test("readBox fills missing blocks with zeros (dense, zarr semantics)") {
    val box = N5.readBox(spark, root, "vol/s0",
      Array(16L, 16L, 0L), Array(48L, 48L, 8L))
    val r = box.agg(count(lit(1)).as("n"),
      sum(when(col("v") === 0, 1L).otherwise(0L)).as("zeros")).collect()(0)
    assert(r.getLong(0) == 32L * 32 * 8, "box must be dense")
    // the box covers a quarter of each of the 4 grid positions; the two
    // missing ones contribute 16x16x8 zeros each
    assert(r.getLong(1) == 2L * 16 * 16 * 8, s"zero fill wrong: ${r.getLong(1)}")
  }

  test("readBox(fillMissing = false) returns only stored voxels") {
    val box = N5.readBox(spark, root, "vol/s0",
      Array(16L, 16L, 0L), Array(48L, 48L, 8L), fillMissing = false)
    assert(box.count() == 2L * 16 * 16 * 8)
    assert(box.filter(col("v") === 0).count() == 0)
  }

  test("a fully stored box has no synthesized rows") {
    val box = N5.readBox(spark, root, "vol/s0",
      Array(0L, 0L, 0L), Array(32L, 32L, 16L))
    assert(box.count() == 32L * 32 * 16)
    assert(box.filter(col("v") === 0).count() == 0)
  }

  test("fill-aware downsample equals the densified windowed mean") {
    // independent expectation: densify via readBox (zero fill), then a
    // plain-loop 2x2x2 trimmed windowed mean — the reference's
    // densify-first pyramid on a sparse volume
    val dense = new Array[Int](64 * 64 * 16)
    N5.readBox(spark, root, "vol/s0", Array(0L, 0L, 0L), Array(64L, 64L, 16L))
      .collect().foreach { r =>
        val (x, y, z) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt)
        dense(x + y * 64 + z * 64 * 64) = r.getAs[Number]("v").intValue()
      }
    val expected = (for (z <- 0 until 8; y <- 0 until 32; x <- 0 until 32) yield {
      var s = 0L
      for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
        s += dense((2 * x + dx) + (2 * y + dy) * 64 + (2 * z + dz) * 64 * 64)
      ((x.toLong, y.toLong, z.toLong), (s.toDouble / 8.0).toLong)
    }).toMap
    Multiscale.downsampleLevelFilled(spark, root, "vol", 1, Array(2, 2, 2))
    val got = N5.elements(N5.read(spark, root, "vol/s1"))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getAs[Number](3).longValue())).toMap
    assert(got.size == 32 * 32 * 8, "fill-aware output must be DENSE")
    assert(got == expected, "fill-aware mean diverges from densified loops")
    // windows fully inside a missing block are exactly fill (0); windows
    // fully inside a stored block are never 0 (source values >= 1)
    assert(got((20L, 5L, 0L)) == 0L, "all-missing window must be fill")
    assert(got((5L, 5L, 0L)) > 0L)
  }

  test("buildPyramid with fill: level 1 fill-aware, later levels plain mean") {
    Multiscale.buildPyramid(spark, root, "vol", Array(2, 2, 2),
      maxLevels = 2, thumbnailSize = 8, fill = Some(0.0))
    val s1 = N5.elements(N5.read(spark, root, "vol/s1"))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2).toInt), r.getAs[Number](3).longValue())).toMap
    assert(s1.size == 32 * 32 * 8, "s1 must be dense (fill-aware)")
    val s2 = N5.elements(N5.read(spark, root, "vol/s2"))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2).toInt), r.getAs[Number](3).longValue())).toMap
    assert(s2.size == 16 * 16 * 4, "s2 must be dense (its input is)")
    // s2 == plain windowed mean of the dense s1 (the cheap path suffices
    // above level 1)
    s2.foreach { case ((x, y, z), v) =>
      var s = 0L
      for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
        s += s1((2 * x + dx, 2 * y + dy, 2 * z + dz))
      assert(v == (s.toDouble / 8.0).toLong, s"s2 mismatch at ($x,$y,$z)")
    }
  }
}
