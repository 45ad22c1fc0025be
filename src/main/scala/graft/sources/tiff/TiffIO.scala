package graft.sources.tiff

import java.awt.image.{BufferedImage, DataBufferByte, DataBufferUShort}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** Grayscale TIFF encode/decode via the JDK's built-in ImageIO TIFF plugin
  * (JDK 9+; no external deps). 8-bit and 16-bit single-channel images —
  * the slice formats the reference produces/consumes (`n5_to_tif.py:17`,
  * `tif_to_n5.py:21`).
  */
object TiffIO {

  final case class Slice(width: Int, height: Int, pixels: Array[Int], bits: Int = 8)

  /** Build the in-memory grayscale image for a row-major (x fastest) pixel
    * array — shared by encode and multi-page writers (which would
    * otherwise pay an encode→re-parse round trip per page).
    */
  def buildImage(width: Int, height: Int, pixels: Array[Int], bits: Int): BufferedImage = {
    require(pixels.length == width * height,
      s"pixel count ${pixels.length} != $width x $height")
    bits match {
      case 8 =>
        val im = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
        val buf = im.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
        var i = 0; while (i < pixels.length) { buf(i) = pixels(i).toByte; i += 1 }
        im
      case 16 =>
        val im = new BufferedImage(width, height, BufferedImage.TYPE_USHORT_GRAY)
        val buf = im.getRaster.getDataBuffer.asInstanceOf[DataBufferUShort].getData
        var i = 0; while (i < pixels.length) { buf(i) = pixels(i).toShort; i += 1 }
        im
      case b => throw new IllegalArgumentException(s"unsupported bit depth $b")
    }
  }

  /** The grayscale image of row-major (x fastest) `bits`-bit samples,
    * `bits/8` big-endian bytes each — the export pages' layout.
    */
  def sampleImage(width: Int, height: Int, samples: Array[Byte], bits: Int): BufferedImage = {
    require(samples.length == width * height * (bits / 8),
      s"${samples.length} sample bytes != $width x $height x ${bits / 8}")
    bits match {
      case 8 =>
        val im = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_GRAY)
        val buf = im.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
        System.arraycopy(samples, 0, buf, 0, samples.length)
        im
      case 16 =>
        val im = new BufferedImage(width, height, BufferedImage.TYPE_USHORT_GRAY)
        java.nio.ByteBuffer.wrap(samples).asShortBuffer()
          .get(im.getRaster.getDataBuffer.asInstanceOf[DataBufferUShort].getData)
        im
      case b => throw new IllegalArgumentException(s"unsupported bit depth $b")
    }
  }

  /** Encode a row-major (x fastest) pixel array as a grayscale TIFF. */
  def encode(width: Int, height: Int, pixels: Array[Int], bits: Int): Array[Byte] =
    encodeImage(buildImage(width, height, pixels, bits))

  /** Encode an image as a TIFF file's bytes. ImageIO gets an in-memory
    * image stream: handed a plain stream, it would wrap it in a file
    * cache backed by a temp file under `java.io.tmpdir` (the JDK default
    * `ImageIO.getUseCache`), one per page.
    */
  def encodeImage(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    try require(ImageIO.write(img, "tiff", ios), "no TIFF writer available")
    finally ios.close()
    bos.toByteArray
  }

  /** Native 8-bit grayscale BigTIFF encoder (r16): little-endian, one
    * uncompressed strip, LONG8 inline tags — the minimal spec-legal
    * layout [[BigTiff.decodeBands]] reads back. Exists because the
    * classic-TIFF [[encode]]/[[decode]] pair routes through javax
    * ImageIO, whose per-call registry/stream overhead (~0.15 ms)
    * dominates when a corpus-scale query encodes/decodes 200k tiny
    * fingerprint rasters per pass (measured: the ImageIO path held
    * q188's sf10 hash pass at ~40 s; this native pair is ~100× less per
    * call). The container stays genuinely TIFF — BigTIFF is the flavor
    * real microscopy crawls carry — and decoding exercises the repo's
    * own native reader.
    */
  def encodeBigTiffGray(
      width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 &&
      width.toLong * height == pixels.length,
      s"bad BigTIFF geometry ${width}x$height for ${pixels.length} px")
    val n = width * height
    val dataOff = 16L
    val nTags = 8
    val ifdOff = dataOff + n
    val buf = java.nio.ByteBuffer
      .allocate((ifdOff + 8 + nTags * 20 + 8).toInt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte)
      .putShort(43).putShort(8).putShort(0)
      .putLong(ifdOff)
    var i = 0
    while (i < n) { buf.put(pixels(i).toByte); i += 1 }
    buf.putLong(nTags.toLong)
    def tag(t: Int, v: Long): Unit = {
      buf.putShort(t.toShort).putShort(16) // type LONG8
      buf.putLong(1L).putLong(v)
    }
    tag(256, width) // ImageWidth
    tag(257, height) // ImageLength
    tag(258, 8) // BitsPerSample
    tag(259, 1) // Compression: none
    tag(273, dataOff) // StripOffsets
    tag(277, 1) // SamplesPerPixel
    tag(278, height) // RowsPerStrip
    tag(279, n.toLong) // StripByteCounts
    buf.putLong(0L) // next IFD
    buf.array()
  }

  /** Decode a TIFF of ANY band count into one grayscale slice per band
    * (RGB → 3) — the multi-channel breadth tifffile gives the reference
    * transparently (`tif_to_n5.py:21`). ImageIO's TIFF plugin reads both
    * striped and tiled CLASSIC layouts; BigTIFF (0x2B magic) routes to
    * the native [[BigTiff]] reader, so >4 GB microscopy stacks ingest
    * like any other series.
    */
  private def readImage(bytes: Array[Byte]): BufferedImage = {
    // an in-memory image stream, for the reason given at encodeImage
    val img = ImageIO.read(new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes)))
    require(img != null, "not a decodable image")
    img
  }

  private def band(img: BufferedImage, b: Int): Slice = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Int](w * h)
    img.getRaster.getSamples(0, 0, w, h, b, out)
    // per-band sample depth, not getPixelSize (which is 24 for RGB); use
    // THIS band's component size — bands can be heterogeneous (e.g.
    // 5650-style 8+8+8 vs padded alpha), band 0's depth must not leak
    val cs = img.getColorModel.getComponentSize
    Slice(w, h, out, if (b < cs.length) cs(b) else cs(0))
  }

  def decodeBands(bytes: Array[Byte]): Seq[Slice] = {
    if (BigTiff.isBigTiff(bytes)) return BigTiff.decodeBands(bytes)
    val img = readImage(bytes)
    (0 until img.getRaster.getNumBands).map(band(img, _))
  }

  /** Decode a grayscale TIFF into (width, height, row-major pixels). */
  def decode(bytes: Array[Byte]): Slice = {
    if (BigTiff.isBigTiff(bytes)) {
      val bands = BigTiff.decodeBands(bytes)
      require(bands.size == 1,
        s"expected single-band grayscale TIFF, got ${bands.size} bands — " +
          "use decodeBands / TiffVolume.ingestSlicesPerChannel for RGB/multi-channel")
      return bands.head
    }
    val img = readImage(bytes)
    // reject multi-band BEFORE extracting any pixel buffers: a 4k RGB
    // slice would otherwise allocate three w*h arrays just to throw; a
    // multi-band series must go through the per-channel ingest anyway —
    // collapsing it to one band here would silently drop channels
    val bands = img.getRaster.getNumBands
    require(bands == 1,
      s"expected single-band grayscale TIFF, got $bands bands — " +
        "use decodeBands / TiffVolume.ingestSlicesPerChannel for RGB/multi-channel")
    band(img, 0)
  }
}
