package graft.sources.n5

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5, N5Meta}
import org.apache.spark.sql.functions._

/** Metadata-format resolution in `N5Meta.datasetAttributes`, on volumes
  * the engine writes itself (no fixture): an N5, a zarr v2 and a zarr v3
  * dataset resolve to the attributes they were written with and read the
  * same box; `attributes.json` wins over `zarr.json`, which wins over
  * `.zarray`; a directory with no metadata fails on `attributes.json`.
  */
class MetaFormatSpec extends SparkSpec {

  private val dims = Array(9L, 7L, 5L)
  private val bs = Array(4, 4, 2)
  private val formats = Seq("n5", "zarr", "zarr3")

  private def v(x: Long, y: Long, z: Long): Long = (x * 3 + y * 5 + z * 7) % 97 + 1

  private def attrsFor(fmt: String) = DatasetAttributes(dims, bs, Dtype.UInt16,
    Compression("gzip", 6), format = fmt,
    zarrSeparator = if (fmt == "zarr3") "/" else ".")

  /** One container holding the same volume as dataset `n5`, `zarr` and
    * `zarr3`, each in that format.
    */
  private lazy val root: String = {
    val r = Files.createTempDirectory("metaformat").toString + "/c.n5"
    val elems = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .select(col("x"), col("y"), col("z"),
        ((col("x") * 3 + col("y") * 5 + col("z") * 7) % 97 + 1).cast("int").as("v"))
    formats.foreach { fmt =>
      val a = attrsFor(fmt)
      N5.write(N5.blocksFromElements(elems, a), r, fmt, a)
    }
    r
  }

  private val (start, end) = (Array(1L, 2L, 1L), Array(8L, 7L, 4L))

  private def boxRows(ds: String): Seq[(Long, Long, Long, Long)] =
    N5.readBox(spark, root, ds, start, end).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3).toLong))
      .toSeq.sorted

  private val expectedBox: Seq[(Long, Long, Long, Long)] = (for {
    x <- start(0) until end(0); y <- start(1) until end(1); z <- start(2) until end(2)
  } yield (x, y, z, v(x, y, z))).sorted

  private def assertResolves(ds: String, fmt: String): Unit = {
    val a = N5Meta.datasetAttributes(root, ds)
    val want = attrsFor(fmt)
    assert(a.format == fmt, s"$ds resolved as ${a.format}")
    assert(a.dimensions.toSeq == want.dimensions.toSeq)
    assert(a.blockSize.toSeq == want.blockSize.toSeq)
    assert(a.dataType == want.dataType && a.compression == want.compression)
    assert(a.zarrSeparator == want.zarrSeparator)
    assert(boxRows(ds) == expectedBox, s"$ds box rows")
  }

  test("engine-written N5, zarr v2 and zarr v3 datasets resolve to their " +
      "attributes and read the same box") {
    formats.foreach(fmt => assertResolves(fmt, fmt))
  }

  private def copyMeta(fromDs: String, name: String, toDs: String): Unit =
    Files.copy(Paths.get(root, fromDs, name), Paths.get(root, toDs, name))

  test("attributes.json takes precedence over zarr.json and .zarray; " +
      "zarr.json over .zarray") {
    val n5Ds = "n5_with_zarr_meta"
    val z3Ds = "zarr3_with_zarray"
    N5.write(N5.read(spark, root, "n5"), root, n5Ds, attrsFor("n5"))
    copyMeta("zarr", ".zarray", n5Ds)
    copyMeta("zarr3", "zarr.json", n5Ds)
    assertResolves(n5Ds, "n5")
    N5.write(N5.read(spark, root, "zarr3"), root, z3Ds, attrsFor("zarr3"))
    copyMeta("zarr", ".zarray", z3Ds)
    assertResolves(z3Ds, "zarr3")
  }

  test("a dataset directory with no metadata fails on attributes.json") {
    Files.createDirectories(Paths.get(root, "bare"))
    val e = intercept[java.io.FileNotFoundException](
      N5Meta.datasetAttributes(root, "bare"))
    assert(e.getMessage.contains("bare/attributes.json"), e.getMessage)
  }
}
