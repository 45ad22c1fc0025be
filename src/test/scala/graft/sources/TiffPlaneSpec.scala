package graft.sources.tiff

import java.io.File
import java.nio.file.Files
import javax.imageio.{IIOImage, ImageIO}
import javax.imageio.stream.FileImageOutputStream

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}
import graft.sources.n5.N5Schema
import graft.streaming.Streams
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Both directions of the TIFF <-> N5 plane path on generated volumes and
  * series (no external fixture): slice export and re-ingest, box export
  * against `readBox`, float export through the safe cast, per-channel and
  * OME page-stack ingest, and the streaming slab ingest against the batch
  * ingest.
  */
class TiffPlaneSpec extends SparkSpec {

  private type Voxels = Map[(Long, Long, Long), Long]

  /** Store the closed-form volume `v` (a Column over x, y, z) with the
    * listed grid positions left absent.
    */
  private def store(
      root: String, ds: String, attrs: DatasetAttributes,
      v: Column, absent: Seq[(Int, Int, Int)]): Unit = {
    val Array(bx, by, bz) = attrs.blockSize
    val stored = absent.foldLeft(lit(true)) { case (acc, (gx, gy, gz)) =>
      acc && !(expr(s"x div $bx") === gx && expr(s"y div $by") === gy &&
        expr(s"z div $bz") === gz)
    }
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), attrs.dimensions)
      .filter(stored)
      .select(col("x"), col("y"), col("z"),
        v.cast(N5Schema.elementType(attrs.dataType)).as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), root, ds, attrs)
  }

  private def voxels(root: String, ds: String): Voxels =
    N5.elementsScan(spark, root, ds).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getAs[Number](3).longValue()
    }.toMap

  /** Every page of a (multi-page) TIFF as (width, height, pixels). */
  private def readPages(file: String): Seq[(Int, Int, Array[Int])] = {
    val in = ImageIO.createImageInputStream(new File(file))
    val reader = ImageIO.getImageReaders(in).next()
    reader.setInput(in)
    try (0 until reader.getNumImages(true)).map { i =>
      val img = reader.read(i)
      val (w, h) = (img.getWidth, img.getHeight)
      (w, h, img.getRaster.getPixels(0, 0, w, h, new Array[Int](w * h)))
    } finally { reader.dispose(); in.close() }
  }

  private def u16(x: Long, y: Long, z: Long): Long = (x * 257 + y * 131 + z * 1031) % 65536
  private val u16Col = (col("x") * 257 + col("y") * 131 + col("z") * 1031) % 65536

  test("exportSlices then ingestSlices round-trips a sparse uint16 volume") {
    val tmp = Files.createTempDirectory("planert").toString
    val attrs = DatasetAttributes(Array(20L, 18L, 10L), Array(8, 8, 4),
      Dtype.UInt16, Compression("gzip"))
    store(s"$tmp/a.n5", "v", attrs, u16Col, absent = Seq((1, 1, 1)))
    assert(TiffVolume.exportSlices(spark, s"$tmp/a.n5", "v", s"$tmp/tif") == 10)
    val back = TiffVolume.ingestSlices(spark, s"$tmp/tif", s"$tmp/b.n5", "v",
      Array(16, 16, 3), dtype = Dtype.UInt16)
    assert(back.dimensions.toSeq == Seq(20L, 18L, 10L))
    val got = voxels(s"$tmp/b.n5", "v")
    assert(got.size == 20 * 18 * 10)
    val bad = got.count { case ((x, y, z), v) =>
      val inAbsent = x / 8 == 1 && y / 8 == 1 && z / 4 == 1
      v != (if (inAbsent) 0L else u16(x, y, z))
    }
    assert(bad == 0, s"$bad voxels differ after the round trip")
  }

  test("exportBox pages equal readBox across blocks, an absent block and " +
      "an unstored z-slab") {
    val tmp = Files.createTempDirectory("planebox").toString
    val attrs = DatasetAttributes(Array(24L, 20L, 12L), Array(8, 8, 4),
      Dtype.UInt16, Compression("gzip"))
    val absent = (1, 1, 0) +: (for (gx <- 0 to 2; gy <- 0 to 2) yield (gx, gy, 2))
    store(s"$tmp/a.n5", "v", attrs, u16Col, absent)
    val (start, end) = (Array(4L, 4L, 2L), Array(12L, 12L, 10L))
    TiffVolume.exportBox(spark, s"$tmp/a.n5", "v", s"$tmp/box.tif", start, end)
    val pages = readPages(s"$tmp/box.tif")
    assert(pages.length == 8)
    assert(pages.forall { case (w, h, _) => w == 8 && h == 8 })
    val box = N5.readBox(spark, s"$tmp/a.n5", "v", start, end).collect()
    assert(box.length == 8 * 8 * 8)
    val bad = box.count { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val px = pages((z - start(2)).toInt)._3((x - start(0) + (y - start(1)) * 8).toInt)
      px != r.getAs[Number](3).longValue()
    }
    assert(bad == 0, s"$bad box pixels differ from readBox")
    // the unstored slab and the absent block export as zeros
    assert(pages.drop(6).forall(_._3.forall(_ == 0)))
    assert(pages(0)._3(7 + 7 * 8) == 0 && pages(0)._3(0) == u16(4, 4, 2))
  }

  test("exportBox writes integral float32 voxels at 16 bits") {
    val tmp = Files.createTempDirectory("planef32").toString
    val attrs = DatasetAttributes(Array(10L, 9L, 3L), Array(4, 4, 2),
      Dtype.Float32, Compression("raw"))
    store(s"$tmp/f.n5", "v", attrs,
      (col("x") + col("y") * 10 + col("z") * 100) * 7, absent = Nil)
    val (start, end) = (Array(1L, 2L, 0L), Array(9L, 9L, 3L))
    TiffVolume.exportBox(spark, s"$tmp/f.n5", "v", s"$tmp/f.tif", start, end,
      bitsOverride = 16)
    val pages = readPages(s"$tmp/f.tif")
    assert(pages.length == 3 && pages.forall(p => p._1 == 8 && p._2 == 7))
    for ((p, z) <- pages.zipWithIndex; i <- p._3.indices) {
      val (x, y) = (start(0) + i % 8, start(1) + i / 8)
      assert(p._3(i) == (x + y * 10 + z * 100) * 7, s"pixel ($x,$y,$z)")
    }
  }

  test("exportBox rejects a box outside the dataset's dims by name") {
    val tmp = Files.createTempDirectory("planeoob").toString
    val attrs = DatasetAttributes(Array(8L, 8L, 2L), Array(4, 4, 2),
      Dtype.UInt8, Compression("raw"))
    store(s"$tmp/a.n5", "v", attrs, col("x") + col("y"), absent = Nil)
    val ex = intercept[IllegalArgumentException] {
      TiffVolume.exportBox(spark, s"$tmp/a.n5", "v", s"$tmp/oob.tif",
        Array(4L, 4L, 0L), Array(12L, 8L, 2L))
    }
    assert(ex.getMessage.contains("outside dims 8x8x2"), ex.getMessage)
  }

  test("ingestSlices names a .tif file without a numeric suffix before decoding it") {
    val tmp = Files.createTempDirectory("planename").toString
    val dir = new File(tmp, "tif")
    dir.mkdirs()
    for (z <- 0 until 2)
      Files.write(new File(dir, s"slice_$z.tif").toPath,
        TiffIO.encode(4, 3, Array.tabulate(12)(i => (i + z) % 256), 8))
    // not a TIFF: decoding it would fail with a decoder error instead
    Files.write(new File(dir, "foo.tif").toPath, "not a tiff".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      TiffVolume.ingestSlices(spark, dir.toString, s"$tmp/a.n5", "v", Array(4, 4, 2))
    }
    assert(ex.getMessage.contains("contains .tif files without a numeric suffix"),
      ex.getMessage)
    assert(ex.getMessage.contains("foo.tif"), ex.getMessage)
  }

  test("per-channel series and cropped OME page stacks ingest their planes") {
    val tmp = Files.createTempDirectory("planech").toString
    // a 3-band series: each band of each slice is a distinct plane
    val (w, h, nz) = (11, 7, 4)
    def band(b: Int, x: Int, y: Int, z: Int): Int = (x * (b + 1) + y * 3 + z * 17 + b * 40) % 256
    Files.createDirectories(new File(s"$tmp/rgb").toPath)
    for (z <- 0 until nz) {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        im.setRGB(x, y, (band(0, x, y, z) << 16) | (band(1, x, y, z) << 8) | band(2, x, y, z))
      assert(ImageIO.write(im, "tiff", new File(f"$tmp/rgb/s_$z%03d.tif")))
    }
    val (bands, attrs) = TiffVolume.ingestSlicesPerChannel(
      spark, s"$tmp/rgb", s"$tmp/rgb.n5", "v", Array(4, 4, 3))
    assert(bands == 3 && attrs.dimensions.toSeq == Seq(11L, 7L, 4L))
    for (b <- 0 until 3) {
      val got = voxels(s"$tmp/rgb.n5", s"c$b/v")
      assert(got.size == w * h * nz)
      assert(got.forall { case ((x, y, z), v) => v == band(b, x.toInt, y.toInt, z.toInt) },
        s"channel $b differs from its source planes")
    }

    // a 2-channel uint16 OME page stack (channel-major), cropped in every axis
    val (nc, pz, pw, ph) = (2, 5, 13, 9)
    def page(c: Int, x: Int, y: Int, z: Int): Int = (c * 20000 + z * 3000 + y * 97 + x * 11) % 65536
    val ome = s"$tmp/ome.tif"
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val out = new FileImageOutputStream(new File(ome))
    writer.setOutput(out)
    writer.prepareWriteSequence(null)
    for (c <- 0 until nc; z <- 0 until pz) {
      val px = Array.tabulate(pw * ph)(i => page(c, i % pw, i / pw, z))
      writer.writeToSequence(new IIOImage(TiffIO.buildImage(pw, ph, px, 16), null, null), null)
    }
    writer.endWriteSequence()
    out.close()
    val crop = OmeTiffVolume.CropBox(cStart = 0, cSize = 2, zStart = 1, zSize = 3,
      yStart = 2, ySize = 5, xStart = 3, xSize = 9)
    OmeTiffVolume.ingest(spark, ome, s"$tmp/ome.n5", "s0", nc, "cz",
      crop = Some(crop), blockSize = Array(4, 4, 2), dtype = Dtype.UInt16)
    for (c <- 0 until nc) {
      val got = voxels(s"$tmp/ome.n5", s"c$c/s0")
      assert(got.size == 9 * 5 * 3)
      assert(got.forall { case ((x, y, z), v) =>
        v == page(c, x.toInt + 3, y.toInt + 2, z.toInt + 1)
      }, s"OME channel $c differs from its cropped source pages")
    }
  }

  test("the streaming slab ingest equals the batch ingest") {
    val tmp = Files.createTempDirectory("planeslab").toString
    val (w, h, nz) = (12, 10, 6)
    Files.createDirectories(new File(s"$tmp/tif").toPath)
    for (z <- 0 until nz)
      Files.write(new File(f"$tmp/tif/slice_$z%05d.tif").toPath,
        TiffIO.encode(w, h, Array.tabulate(w * h)(i => (i * 7 + z * 29) % 256), 8))
    Streams.tiffSlabIngest(spark, s"$tmp/tif", s"$tmp/stream.n5", "v", w, h, nz)
      .awaitTermination()
    TiffVolume.ingestSlices(spark, s"$tmp/tif", s"$tmp/batch.n5", "v", Array(w, h, 1))
    val streamed = voxels(s"$tmp/stream.n5", "v")
    assert(streamed.size == w * h * nz)
    assert(streamed == voxels(s"$tmp/batch.n5", "v"))
  }

  test("a checkpointed slab ingest restarts without rewriting a block") {
    val tmp = Files.createTempDirectory("planeckpt").toString
    val (w, h, nz) = (8, 6, 4)
    Files.createDirectories(new File(s"$tmp/tif").toPath)
    for (z <- 0 until nz)
      Files.write(new File(f"$tmp/tif/slice_$z%05d.tif").toPath,
        TiffIO.encode(w, h, Array.tabulate(w * h)(i => (i * 5 + z * 11) % 256), 8))
    def ingest() = {
      val q = Streams.tiffSlabIngest(spark, s"$tmp/tif", s"$tmp/s.n5", "v",
        w, h, nz, checkpoint = Some(s"$tmp/ckpt"))
      q.awaitTermination()
      q
    }
    def blockTimes(): Map[String, Long] = {
      val s = Files.walk(new File(s"$tmp/s.n5/v").toPath)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.forall(_.isDigit))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    ingest()
    val first = blockTimes()
    assert(first.size == nz)
    Thread.sleep(50) // a rewrite would stamp a later mtime
    val again = ingest()
    assert(again.recentProgress.map(_.numInputRows).sum == 0L,
      "the restarted ingest re-read slices its checkpoint records")
    assert(blockTimes() == first, "the restarted ingest rewrote blocks")
  }
}
