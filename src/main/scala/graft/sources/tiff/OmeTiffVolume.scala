package graft.sources.tiff

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream

import graft.n5.{Compression, DatasetAttributes, Dtype, N5Meta}
import graft.sources.HadoopFs
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-channel (OME-style) multi-page TIFF → per-channel N5 volumes,
  * the reference's most involved ingest (`ometif_to_n5.py:25-148`):
  * axis normalization to canonical czyx (`ometif_to_n5.py:41-44`, R11),
  * crop by start/size (`ometif_to_n5.py:47-66`), channels as sibling group
  * paths `c{c}/<dataset>` (`ometif_to_n5.py:111-116`), executor tasks that
  * open the TIFF independently per task (`ometif_to_n5.py:174-182`, R13).
  *
  * Spark shape: the driver does the metadata phase (page count, page
  * geometry) once; a page-manifest DataFrame fans pages out to executors;
  * each task decodes and crops only its pages; each channel's planes go
  * through the shared plane-to-block writer (`Regroup.writeSlices`). Crop
  * predicates prune pages in the MANIFEST — before any decode — mirroring
  * the reference's grid enumeration over the cropped box
  * (`ometif_to_n5.py:123-127`).
  */
object OmeTiffVolume {

  /** Page index of (c, z) for the file's page ordering (R11,
    * `czyx_to_actual_order`): "cz" = channel-major (page = c*nz + z),
    * "zc" = z-major (page = z*nc + c).
    */
  def pageIndex(order: String, c: Int, z: Int, nc: Int, nz: Int): Int =
    order match {
      case "cz" => c * nz + z
      case "zc" => z * nc + c
      case o => throw new IllegalArgumentException(s"unknown page order: $o")
    }

  final case class CropBox(
      cStart: Int, cSize: Int, zStart: Int, zSize: Int,
      yStart: Int, ySize: Int, xStart: Int, xSize: Int)

  /** Ingest a multi-page grayscale TIFF with nc channels into per-channel
    * datasets `c{c}/$dataset` under dstRoot. Returns attrs per channel.
    */
  def ingest(
      spark: SparkSession, tiffPath: String,
      dstRoot: String, dataset: String,
      nChannels: Int, pageOrder: String = "cz",
      crop: Option[CropBox] = None,
      blockSize: Array[Int] = Array(128, 128, 128),
      dtype: Dtype = Dtype.UInt8,
      compression: Compression = Compression("gzip"),
      pixelResolution: Option[(Array[Double], String)] = None): Seq[DatasetAttributes] = {
    import spark.implicits._

    // ---- metadata phase (driver, eager — ometif_to_n5.py:34-72) ----
    val (nPages, w0, h0) = {
      val (reader, close) = openReader(tiffPath)
      try (reader.getNumImages(true), reader.getWidth(0), reader.getHeight(0))
      finally close()
    }
    require(nPages % nChannels == 0,
      s"$nPages pages not divisible by $nChannels channels")
    val nz0 = nPages / nChannels
    val box = crop.getOrElse(CropBox(0, nChannels, 0, nz0, 0, h0, 0, w0))
    require(box.cStart >= 0 && box.zStart >= 0
      && box.yStart >= 0 && box.xStart >= 0,
      s"crop starts must be non-negative: $box")
    require(box.cSize > 0 && box.zSize > 0 && box.ySize > 0 && box.xSize > 0,
      s"crop sizes must be positive: $box")
    require(box.cStart + box.cSize <= nChannels && box.zStart + box.zSize <= nz0
      && box.yStart + box.ySize <= h0 && box.xStart + box.xSize <= w0,
      "crop box exceeds volume bounds")

    // pixelResolution rides on EVERY channel dataset's attrs too (the
    // reference updates each channel_dataset, `ometif_to_n5.py:118`) —
    // root-only metadata would make N5Meta.pixelResolution(dataset attrs)
    // fall back to defaults downstream
    val prJson = pixelResolution.map { case (dims, unit) =>
      s"""{"unit":"$unit","dimensions":[${dims.mkString(",")}]}"""
    }
    val attrs = DatasetAttributes(
      Array(box.xSize.toLong, box.ySize.toLong, box.zSize.toLong),
      blockSize, dtype, compression,
      extra = prJson.map("pixelResolution" -> _).toMap)

    // root metadata (R12, _create_root_output)
    N5Meta.ensureRoot(dstRoot)
    prJson.foreach { j =>
      N5Meta.updateGroupAttributes(dstRoot, "", Map("pixelResolution" -> j))
    }

    // ---- manifest: one row per (channel, z) page inside the crop ----
    val pages = for {
      c <- box.cStart until (box.cStart + box.cSize)
      z <- box.zStart until (box.zStart + box.zSize)
    } yield (c, z, pageIndex(pageOrder, c, z, nChannels, nz0))
    val manifest = pages.toDF("c", "z", "page")
      .repartition(math.min(pages.size, 64))

    // ---- executor phase: open-per-task decode (R13), crop ----
    val (ys, xs, yn, xn) = (box.yStart, box.xStart, box.ySize, box.xSize)
    val decoded = manifest.as[(Int, Int, Int)]
      .mapPartitions { it =>
        // each task opens the file fresh (no shared state across tasks)
        // via a seekable/disk-cached image stream — NOT readAllBytes: a
        // multi-GB TIFF must not be heap-resident per task, and >2 GB
        // files exceed the JVM array limit outright
        val (reader, close) = openReader(tiffPath)
        val taskPages = try {
          it.map { case (c, z, page) =>
            val img = reader.read(page)
            require(img.getRaster.getNumBands == 1,
              s"page $page: expected single-band grayscale, got " +
                s"${img.getRaster.getNumBands} bands")
            // crop y/x to the cropped origin; the range check is the
            // plane writer's (Regroup.writeSlices)
            val out = new Array[Int](xn * yn)
            img.getRaster.getPixels(xs, ys, xn, yn, out)
            (c, (z - box.zStart).toLong, out)
          // materialize the partition's pages before closing the reader:
          // the iterator is lazy and the stream must outlive every read
          }.toVector
        } finally close()
        taskPages.iterator
      }.toDF("c", "z", "px")
      // one Spark action runs below PER CHANNEL; without caching, the
      // opaque mapPartitions above would re-read and re-decode every
      // channel's pages nc times
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- per-channel datasets c{c}/<dataset> (ometif_to_n5.py:111-116)
    try {
      (box.cStart until (box.cStart + box.cSize)).map { c =>
        graft.n5.Regroup.writeSlices(
          decoded.filter(col("c") === c).select(col("z"), col("px"))
            .as[(Long, Array[Int])],
          attrs, dstRoot, s"c$c/$dataset")
        attrs
      }
    } finally decoded.unpersist()
  }

  /** Open a TIFF reader over the file WITHOUT loading it onto the heap:
    * local files get a true random-access stream; non-local filesystems
    * get a disk-cached stream over the Hadoop input (bounded heap either
    * way, and files past the 2 GB array limit work). Returns the reader
    * and a close handle.
    */
  private def openReader(path: String): (javax.imageio.ImageReader, () => Unit) = {
    val p = new HPath(path)
    val fs = HadoopFs.fs(p)
    val ios: javax.imageio.stream.ImageInputStream =
      if (fs.getUri.getScheme == "file")
        new javax.imageio.stream.FileImageInputStream(
          new java.io.File(p.toUri.getPath))
      else {
        val in = fs.open(p)
        new javax.imageio.stream.FileCacheImageInputStream(in, null)
      }
    val readers = ImageIO.getImageReaders(ios)
    require(readers.hasNext, s"no image reader for $path")
    val reader = readers.next()
    reader.setInput(ios)
    (reader, () => { reader.dispose(); ios.close() })
  }

  /** (page count, width, height) of a multi-page TIFF. */
  def pageGeometry(bytes: Array[Byte]): (Int, Int, Int) = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val reader = ImageIO.getImageReaders(in).next()
    reader.setInput(in)
    val n = reader.getNumImages(true)
    (n, reader.getWidth(0), reader.getHeight(0))
  }
}
