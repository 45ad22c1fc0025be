package graft.n5

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** One decoded block: actual (edge-trimmed) shape in x,y,z order, its
  * dtype, and its elements as big-endian bytes of that dtype (N5's own
  * byte order), in x-fastest flat order. [[longs]] and [[doubles]] are
  * derived widening views for consumers that compute on values.
  */
final case class DecodedBlock(shape: Array[Int], dtype: Dtype, bytes: Array[Byte]) {
  def numElements: Int = shape.product
  /** Elements actually decoded — equals [[numElements]] for default-mode
    * blocks; a varlength (mode-1) block carries its own count.
    */
  def elementCount: Int = bytes.length / dtype.bytesPerElement
  private lazy val widened = BlockCodec.widen(bytes, dtype)
  /** Integer elements as Long, unsigned zero-extended; null for floats. */
  def longs: Array[Long] = widened._1
  /** Float elements as Double; null for integer dtypes. */
  def doubles: Array[Double] = widened._2
}

/** N5 block binary codec.
  *
  * Layout (verified against the golden fixture, FIXTURES.md §A; reference
  * read path `n5_utils.py:6-18` via zarr's N5Store): big-endian
  * `uint16 mode` (0 = default), `uint16 ndim`, `ndim × uint32` actual block
  * dims (x,y,z order, edge blocks trimmed), then the (optionally gzip'd)
  * element payload. Element order is x-fastest C-order of the z,y,x view —
  * i.e. flat index = x + y*sx + z*sx*sy with the LOCAL block shape.
  *
  * The payload IS the block's element bytes: decoding is header parse plus
  * decompress, encoding is header plus compress. Big-endian is the one
  * byte order inside the engine, so zarr's little-endian chunks swap at
  * this edge in one pass. [[widen]] and [[narrow]] are the single dtype
  * codec between element bytes and Long/Double values: unsigned dtypes
  * are zero-extended on read, and [[narrow]] holds the one range check
  * for values that come from a wider type (SURVEY §7 flags scattered sign
  * handling as the main correctness hazard here).
  */
object BlockCodec {

  /** Decode a raw block file. Mode 0 (default) carries shape.product
    * elements; mode 1 (varlength — real Janelia label volumes carry it)
    * declares its own element count in an extra uint32 after the dims
    * (n5-java DefaultBlockReader's layout), decoded through the same
    * codec pipeline. Mode 2 (object) stays unsupported.
    */
  def decode(raw: Array[Byte], dtype: Dtype, comp: Compression): DecodedBlock = {
    val hdr = ByteBuffer.wrap(raw).order(ByteOrder.BIG_ENDIAN)
    val mode = hdr.getShort() & 0xffff
    require(mode == 0 || mode == 1,
      s"unsupported N5 block mode: $mode (only default (0) and varlength (1) are supported)")
    val ndim = hdr.getShort() & 0xffff
    val shape = Array.fill(ndim)(hdr.getInt())
    val n = if (mode == 1) hdr.getInt() else shape.product
    val headerLen = 4 + 4 * ndim + (if (mode == 1) 4 else 0)
    val payload = decompress(raw, headerLen, comp, n * dtype.bytesPerElement)
    DecodedBlock(shape, dtype, exact(payload, n * dtype.bytesPerElement, "N5 block"))
  }

  /** Decode one zarr v2 chunk into the N5 block shape contract. A zarr
    * chunk has NO header: the payload is the FULL chunk (edge chunks are
    * fill-padded by the writer), compressed whole, elements in C order of
    * the declared shape — which after the metadata-side axis reversal is
    * exactly N5's x-fastest order. This trims the padded payload down to
    * `trimmedShape` (the attrs-derived edge shape), so downstream block
    * consumers see the same edge-trimmed contract N5 blocks satisfy.
    * `littleEndian` follows the .zarray dtype byte-order character.
    */
  def decodeZarr(
      raw: Array[Byte], dtype: Dtype, comp: Compression,
      chunkShape: Array[Int], trimmedShape: Array[Int],
      littleEndian: Boolean): DecodedBlock = {
    val es = dtype.bytesPerElement
    val payload = exact(
      decompress(raw, 0, comp, chunkShape.product * es), chunkShape.product * es,
      "zarr chunk")
    val elems =
      if (java.util.Arrays.equals(chunkShape, trimmedShape)) payload
      else {
        val t = new Array[Byte](trimmedShape.product * es)
        val at = new Array[Int](trimmedShape.length)
        copyBox(payload, chunkShape, at, t, trimmedShape, at, trimmedShape, es)
        t
      }
    if (littleEndian) swap(elems, es)
    DecodedBlock(trimmedShape, dtype, elems)
  }

  /** The first `n` bytes of a decompressed payload, which must hold them. */
  private def exact(payload: Array[Byte], n: Int, what: String): Array[Byte] = {
    require(payload.length >= n, s"$what: ${payload.length} payload bytes < $n expected")
    if (payload.length == n) payload else java.util.Arrays.copyOf(payload, n)
  }

  /** Encode big-endian element bytes (`shape.product` elements of `dtype`)
    * to the N5 binary layout. `varlength` emits the mode-1 header (an
    * extra uint32 element count after the dims — n5-java
    * DefaultBlockWriter's varlength layout) with the full count, so a
    * mode-1 label volume round-trips through the engine
    * mode-byte-compatibly instead of being re-encoded dense mode-0.
    */
  def encode(
      shape: Array[Int], elems: Array[Byte], dtype: Dtype, comp: Compression,
      varlength: Boolean): Array[Byte] = {
    val n = shape.product
    require(elems.length == n * dtype.bytesPerElement,
      s"block of ${elems.length} bytes, shape ${shape.mkString("x")} of " +
        s"${dtype.name} needs ${n * dtype.bytesPerElement}")
    val body = compress(elems, comp)
    val headerLen = 4 + 4 * shape.length + (if (varlength) 4 else 0)
    val out = ByteBuffer.allocate(headerLen + body.length)
      .order(ByteOrder.BIG_ENDIAN)
    out.putShort(if (varlength) 1.toShort else 0.toShort)
    out.putShort(shape.length.toShort)
    shape.foreach(out.putInt)
    if (varlength) out.putInt(n)
    out.put(body)
    out.array()
  }

  /** Encode Long/Double values: [[narrow]] (exactly one of longs/doubles
    * non-null, length >= shape.product), then the mode-0 [[encode]].
    */
  def encode(
      shape: Array[Int], longs: Array[Long], doubles: Array[Double],
      dtype: Dtype, comp: Compression): Array[Byte] =
    encode(shape, narrow(longs, doubles, shape.product, dtype), dtype, comp,
      varlength = false)

  /** Encode one block as a zarr v2 chunk (r14, write support) — the
    * inverse of [[decodeZarr]]: the trimmed block's big-endian element
    * bytes are padded into a FULL fill-0 chunk buffer (zarr edge chunks
    * are fill-padded, never trimmed), little-endian by default in C order
    * of the reversed axes (= the engine's x-fastest order), compressed
    * whole with no header.
    */
  def encodeZarr(
      trimmedShape: Array[Int], chunkShape: Array[Int], elems: Array[Byte],
      dtype: Dtype, comp: Compression, littleEndian: Boolean): Array[Byte] = {
    val es = dtype.bytesPerElement
    val payload =
      if (!java.util.Arrays.equals(chunkShape, trimmedShape)) {
        val p = new Array[Byte](chunkShape.product * es)
        val at = new Array[Int](trimmedShape.length)
        copyBox(elems, trimmedShape, at, p, chunkShape, at, trimmedShape, es)
        p
      } else if (littleEndian) elems.clone()
      else elems
    if (littleEndian) swap(payload, es)
    comp.codec match {
      case "raw" | "zlib" | "gzip" | "blosc" => ()
      case other => throw new IllegalArgumentException(
        s"zarr write: compressor '$other' unsupported (raw | zlib | gzip | blosc)")
    }
    compress(payload, comp)
  }

  /** Reverse the byte order of every `es`-byte element in place. */
  private def swap(b: Array[Byte], es: Int): Unit = if (es > 1) {
    var i = 0
    while (i < b.length) {
      var (lo, hi) = (i, i + es - 1)
      while (lo < hi) {
        val t = b(lo); b(lo) = b(hi); b(hi) = t
        lo += 1; hi -= 1
      }
      i += es
    }
  }

  /** The dtype codec, read direction: big-endian element bytes as values
    * — Long for integer dtypes, with unsigned values zero-extended, Double
    * for float dtypes (the other array is null).
    */
  private[n5] def widen(bytes: Array[Byte], dtype: Dtype): (Array[Long], Array[Double]) = {
    val n = bytes.length / dtype.bytesPerElement
    val buf = ByteBuffer.wrap(bytes)
    val longs = if (dtype.isFloat) null else new Array[Long](n)
    val doubles = if (dtype.isFloat) new Array[Double](n) else null
    var i = 0
    dtype match {
      case Dtype.UInt8 => while (i < n) { longs(i) = buf.get() & 0xffL; i += 1 }
      case Dtype.Int8 => while (i < n) { longs(i) = buf.get(); i += 1 }
      case Dtype.UInt16 => while (i < n) { longs(i) = buf.getShort() & 0xffffL; i += 1 }
      case Dtype.Int16 => while (i < n) { longs(i) = buf.getShort(); i += 1 }
      case Dtype.UInt32 => while (i < n) { longs(i) = buf.getInt() & 0xffffffffL; i += 1 }
      case Dtype.Int32 => while (i < n) { longs(i) = buf.getInt(); i += 1 }
      // uint64 values above Long.MaxValue wrap (documented narrowing)
      case Dtype.UInt64 | Dtype.Int64 => buf.asLongBuffer().get(longs)
      case Dtype.Float32 => while (i < n) { doubles(i) = buf.getFloat(); i += 1 }
      case Dtype.Float64 => buf.asDoubleBuffer().get(doubles)
    }
    (longs, doubles)
  }

  /** The dtype codec, write direction: the first `n` values (exactly one
    * of longs/doubles non-null) as big-endian `dtype` element bytes. Holds
    * the only range check: an integer outside a bounded dtype fails loudly
    * instead of wrapping. Every path whose values come from a wider type —
    * TIFF planes, writeBox, blocksFromElements, typed block-table writes —
    * narrows here; `context` names the source in the error.
    */
  def narrow(
      longs: Array[Long], doubles: Array[Double], n: Int, dtype: Dtype,
      context: String = "block"): Array[Byte] = {
    dtype.integerRange.foreach { case (lo, hi) =>
      var j = 0
      while (j < n) {
        if (longs(j) < lo || longs(j) > hi)
          throw new IllegalArgumentException(
            s"$context value ${longs(j)} outside ${dtype.name} range [$lo, $hi]")
        j += 1
      }
    }
    val buf = ByteBuffer.allocate(n * dtype.bytesPerElement)
    var i = 0
    dtype match {
      case Dtype.UInt8 | Dtype.Int8 => while (i < n) { buf.put(longs(i).toByte); i += 1 }
      case Dtype.UInt16 | Dtype.Int16 => while (i < n) { buf.putShort(longs(i).toShort); i += 1 }
      case Dtype.UInt32 | Dtype.Int32 => while (i < n) { buf.putInt(longs(i).toInt); i += 1 }
      case Dtype.UInt64 | Dtype.Int64 => buf.asLongBuffer().put(longs, 0, n)
      case Dtype.Float32 => while (i < n) { buf.putFloat(doubles(i).toFloat); i += 1 }
      case Dtype.Float64 => buf.asDoubleBuffer().put(doubles, 0, n)
    }
    buf.array()
  }

  /** The one strided copy of element bytes (`es` each), any ndim, x
    * fastest: the box `extent` at `srcAt` of an array of shape `srcShape`
    * goes to `dstAt` of an array of shape `dstShape`, one arraycopy per
    * row. Serves zarr's edge trim and pad, the fragment cut and paste of
    * every regroup, and the TIFF page paste.
    */
  def copyBox(
      src: Array[Byte], srcShape: Array[Int], srcAt: Array[Int],
      dst: Array[Byte], dstShape: Array[Int], dstAt: Array[Int],
      extent: Array[Int], es: Int): Unit = {
    val rows = extent.drop(1).product
    var r = 0
    while (r < rows) {
      // unravel row r over the extent's y,z,... axes
      var rem = r; var so = srcAt(0).toLong; var dO = dstAt(0).toLong
      var ss = srcShape(0).toLong; var ds = dstShape(0).toLong; var d = 1
      while (d < extent.length) {
        val i = rem % extent(d)
        rem /= extent(d)
        so += (srcAt(d) + i) * ss; dO += (dstAt(d) + i) * ds
        ss *= srcShape(d); ds *= dstShape(d)
        d += 1
      }
      System.arraycopy(src, (so * es).toInt, dst, (dO * es).toInt, extent(0) * es)
      r += 1
    }
  }

  /** Wire formats match n5-java: gzip = GZIP stream, bzip2 = standard
    * bzip2 stream (commons-compress), lz4 = lz4-java LZ4BlockOutputStream
    * framing, zstd = zstd frame (n5-zstandard extension), xz = .xz
    * container with LZMA2 at the given preset (org.tukaani.xz, the same
    * library n5-java's XzCompression uses).
    */
  private def decompress(
      raw: Array[Byte], off: Int, comp: Compression, expected: Int): Array[Byte] = {
    def drain(in: java.io.InputStream): Array[Byte] =
      try in.readNBytes(expected) finally in.close()
    val bis = new ByteArrayInputStream(raw, off, raw.length - off)
    comp.codec match {
      case "raw" => java.util.Arrays.copyOfRange(raw, off, math.min(raw.length, off + expected))
      case "gzip" => drain(new GZIPInputStream(bis))
      // n5-java "gzip" with useZlib=true: raw zlib deflate, no gzip wrapper
      case "zlib" => drain(new java.util.zip.InflaterInputStream(bis))
      case "bzip2" => drain(
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(bis))
      case "lz4" => drain(new net.jpountz.lz4.LZ4BlockInputStream(bis))
      case "zstd" => drain(new com.github.luben.zstd.ZstdInputStream(bis))
      case "xz" => drain(new org.tukaani.xz.XZInputStream(bis))
      // pure-JVM blosc1 container decode (lz4/zlib/zstd inner streams;
      // bit-shuffle/blosclz/snappy fail with their own loud messages)
      case "blosc" => BloscCodec.decode(raw, off, expected)
      case other => throw new IllegalArgumentException(
        s"unsupported compression for read: $other")
    }
  }

  private def compress(data: Array[Byte], comp: Compression): Array[Byte] = {
    val bos = new ByteArrayOutputStream(data.length / 2 + 64)
    def fill(out: java.io.OutputStream): Array[Byte] = {
      out.write(data); out.close(); bos.toByteArray
    }
    comp.codec match {
      case "raw" => data
      case "gzip" =>
        // honor the requested deflate level (attributes.json records it);
        // level <= 0 means zlib default
        fill(new GZIPOutputStream(bos) {
          if (comp.level > 0) `def`.setLevel(comp.level)
        })
      case "zlib" => fill(new java.util.zip.DeflaterOutputStream(bos,
        new java.util.zip.Deflater(
          if (comp.level > 0) comp.level
          else java.util.zip.Deflater.DEFAULT_COMPRESSION)))
      case "bzip2" => fill(
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(
          bos, if (comp.level > 0) comp.level else 9))
      case "lz4" => fill(new net.jpountz.lz4.LZ4BlockOutputStream(
        bos, if (comp.level > 0) comp.level else 65536))
      case "zstd" => fill(new com.github.luben.zstd.ZstdOutputStream(
        bos, if (comp.level > 0) comp.level else 3))
      case "xz" => fill(new org.tukaani.xz.XZOutputStream(bos,
        new org.tukaani.xz.LZMA2Options(
          if (comp.level >= 0) comp.level else 6)))
      // pure-JVM blosc1 encode: typesize-1/no-shuffle/lz4 profile whose
      // structure every conforming decoder derives without heuristics
      // (BloscCodec.encode); foreign inner codecs remain read-side-only
      case "blosc" => BloscCodec.encode(data, comp.level)
      case other => throw new IllegalArgumentException(
        s"unsupported compression for write: $other")
    }
  }
}
