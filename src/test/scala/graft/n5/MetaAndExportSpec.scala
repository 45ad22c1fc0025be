package graft.n5

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.tiff.{OmeTiffVolume, TiffIO, TiffVolume}

import scala.jdk.CollectionConverters._

/** R6 (single-box multi-page TIFF export with safe cast) and R8
  * (pixelResolution precedence) tests.
  */
class MetaAndExportSpec extends SparkSpec {

  private val fixtureRoot = "/root/reference/data/test.n5"
  private val fixtureDs = "mri/c0/s0"

  test("pixelResolution precedence: dict attr, scaled by factors, defaults") {
    val base = DatasetAttributes(Array(4, 4, 4), Array(2, 2, 2), Dtype.UInt8,
      Compression("raw"))
    // dict form + downsampling factors
    val a1 = base.copy(extra = Map(
      "pixelResolution" -> """{"unit":"nm","dimensions":[2.0,3.0,4.0]}""",
      "downsamplingFactors" -> "[2.0,2.0,1.0]"))
    val (r1, u1) = N5Meta.pixelResolution(a1)
    assert(r1.toSeq == Seq(4.0, 6.0, 4.0) && u1 == "nm")
    // bare-list form, unit from defaults
    val a2 = base.copy(extra = Map("pixelResolution" -> "[5.0,5.0,9.0]"))
    val (r2, u2) = N5Meta.pixelResolution(a2, Some((Array(1.0, 1.0, 1.0), "um")))
    assert(r2.toSeq == Seq(5.0, 5.0, 9.0) && u2 == "um")
    // nothing present -> defaults
    val (r3, u3) = N5Meta.pixelResolution(base, Some((Array(2.0, 2.0, 2.0), "mm")))
    assert(r3.toSeq == Seq(2.0, 2.0, 2.0) && u3 == "mm")
  }

  test("fixture attrs resolve to unit pixel resolution") {
    val a = N5Meta.datasetAttributes(fixtureRoot, fixtureDs)
    val (res, unit) = N5Meta.pixelResolution(a)
    assert(res.toSeq == Seq(1.0, 1.0, 1.0))
    assert(unit == "pixel")
  }

  test("xz preset 0 (valid LZMA2 preset) survives the attributes round trip") {
    val root = java.nio.file.Files.createTempDirectory("xz0").toString
    val a = DatasetAttributes(Array(4L, 4L, 4L), Array(4, 4, 4), Dtype.UInt8,
      Compression("xz", 0))
    N5Meta.writeDatasetAttributes(root, "v/s0", a)
    val back = N5Meta.datasetAttributes(root, "v/s0")
    assert(back.compression.codec == "xz")
    assert(back.compression.level == 0,
      s"preset 0 was rewritten to ${back.compression.level}")
  }

  test("exportBox writes a multi-page TIFF of exactly the box (R6)") {
    val tmp = Files.createTempDirectory("box").toString
    val out = s"$tmp/box.tif"
    TiffVolume.exportBox(spark, fixtureRoot, fixtureDs, out,
      Array(100L, 50L, 3L), Array(130L, 90L, 7L))
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(out))
    val (pages, w, h) = OmeTiffVolume.pageGeometry(bytes)
    assert(pages == 4 && w == 30 && h == 40)
  }

  test("exportBox safe cast rejects a 1-bit-impossible override") {
    val tmp = Files.createTempDirectory("boxsc").toString
    // uint8 data fits 8 bits; exporting at 16 bits is a widening cast, fine
    TiffVolume.exportBox(spark, fixtureRoot, fixtureDs, s"$tmp/ok.tif",
      Array(0L, 0L, 0L), Array(8L, 8L, 1L), bitsOverride = 16)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/ok.tif"))
    assert(OmeTiffVolume.pageGeometry(bytes)._1 == 1)
  }

  import org.apache.spark.sql.functions._

  test("exportSlices rejects negative voxels of signed dtypes") {
    val tmp = Files.createTempDirectory("negex").toString
    val attrs = DatasetAttributes(Array(4L, 4L, 2L), Array(4, 4, 2),
      Dtype.Int16, Compression("raw"))
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(4L, 4L, 2L))
      .select(col("x"), col("y"), col("z"),
        (col("x") - lit(2)).as("v")) // includes -2, -1
    N5.write(N5.blocksFromElements(elems, attrs), s"$tmp/n.n5", "v/s0", attrs)
    val ex = intercept[Exception] {
      TiffVolume.exportSlices(spark, s"$tmp/n.n5", "v/s0", s"$tmp/out")
    }
    val msg = ex.getMessage + String.valueOf(ex.getCause)
    assert(msg.contains("safe cast violation"), msg.take(300))
  }

  test("exportBox rejects non-integral float voxels") {
    val tmp = Files.createTempDirectory("fracex").toString
    val attrs = DatasetAttributes(Array(4L, 4L, 1L), Array(4, 4, 1),
      Dtype.Float32, Compression("raw"))
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(4L, 4L, 1L))
      .select(col("x"), col("y"), col("z"), lit(3.7f).as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), s"$tmp/f.n5", "v/s0", attrs)
    val ex = intercept[Exception] {
      TiffVolume.exportBox(spark, s"$tmp/f.n5", "v/s0", s"$tmp/f.tif",
        Array(0L, 0L, 0L), Array(4L, 4L, 1L))
    }
    val msg = ex.getMessage + String.valueOf(ex.getCause)
    assert(msg.contains("non-integral"), msg.take(300))
  }

  /** Writes `bytes` at `p` through the Hadoop local filesystem, which
    * also writes a `.crc` sibling, as an older graft did for every page
    * and metadata file.
    */
  private def hadoopWrite(p: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p.toUri.toString)
    val out = graft.sources.HadoopFs.fs(hp).create(hp, true)
    try out.write(bytes) finally out.close()
    assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")))
  }

  private def listed(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    finally s.close()
  }

  test("exportSlices over an older Hadoop-written series replaces its pages whole") {
    val tmp = Files.createTempDirectory("reexport")
    val attrs = DatasetAttributes(Array(24L, 20L, 6L), Array(16, 16, 4),
      Dtype.UInt8, Compression("gzip"))
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), attrs.dimensions)
      .select(col("x"), col("y"), col("z"),
        ((col("x") * 5 + col("y") * 3 + col("z")) % 256).cast("short").as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), s"$tmp/v.n5", "s0", attrs)
    val out = tmp.resolve("tif")
    Files.createDirectories(out)
    // the older series: other pixels, each page with its checksum sibling
    for (z <- 0 until 6)
      hadoopWrite(out.resolve(f"slice_$z%05d.tif"),
        TiffIO.encode(24, 20, Array.fill(24 * 20)(200), 8))
    assert(TiffVolume.exportSlices(spark, s"$tmp/v.n5", "s0", out.toString) == 6)
    assert(listed(out) == (0 until 6).map(z => f"slice_$z%05d.tif"))
    for (z <- 0 until 6) {
      val p = new org.apache.hadoop.fs.Path(out.resolve(f"slice_$z%05d.tif").toUri.toString)
      val in = graft.sources.HadoopFs.fs(p).open(p)
      val bytes = try in.readAllBytes() finally in.close()
      val px = TiffIO.decode(bytes).pixels
      assert(px.toSeq == Seq.tabulate(24 * 20)(i => (i % 24 * 5 + i / 24 * 3 + z) % 256),
        s"page $z")
    }
  }

  test("rewritten attributes replace a Hadoop-written copy and its checksum") {
    val root = Files.createTempDirectory("rewrite-attrs")
    val old = DatasetAttributes(Array(8L, 8L, 8L), Array(4, 4, 4), Dtype.UInt8,
      Compression("raw"))
    N5Meta.writeDatasetAttributes(root.toString, "v", old)
    val json = root.resolve("v/attributes.json")
    hadoopWrite(json, Files.readAllBytes(json))
    val now = old.copy(dimensions = Array(16L, 12L, 8L), compression = Compression("gzip"))
    N5Meta.writeDatasetAttributes(root.toString, "v", now)
    val back = N5Meta.datasetAttributes(root.toString, "v")
    assert(back.dimensions.toSeq == Seq(16L, 12L, 8L) && back.compression.codec == "gzip")
    assert(listed(root.resolve("v")) == Seq("attributes.json"))
  }
}
