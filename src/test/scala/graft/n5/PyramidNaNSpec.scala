package graft.n5

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import graft.SparkSpec

/** A float window holding NaNs of both signs coarsens to the canonical NaN
  * (0x7fc00000 for float32, 0x7ff8000000000000 for float64) through the
  * block-local kernel, for mean, min and max. The NaN sign of a sum or an
  * extreme depends on operand order, so without the canonical store a
  * float pyramid is not byte-reproducible. The volume is one raw 2×2×2
  * block written byte by byte and the level is read back from its block
  * file, so no engine read or write path can canonicalize the bits.
  */
class PyramidNaNSpec extends SparkSpec {

  private val negNaN32 = 0xffc00001
  private val posNaN32 = 0x7fc00001
  private val negNaN64 = 0xfff8000000000001L
  private val posNaN64 = 0x7ff8000000000001L

  /** One raw N5 block (mode 0, 3-d header, big-endian elements) holding
    * the 2×2×2 window `payload`, as dataset `vol/s0` of a new root.
    */
  private def writeWindow(dtype: String, payload: Array[Byte]): Path = {
    val root = Files.createTempDirectory("pyrnan")
    val s0 = Files.createDirectories(root.resolve("vol/s0"))
    Files.writeString(s0.resolve("attributes.json"),
      s"""{"dimensions":[2,2,2],"blockSize":[2,2,2],"dataType":"$dtype",""" +
        """"compression":{"type":"raw"}}""")
    val block = ByteBuffer.allocate(16 + payload.length)
      .putShort(0.toShort).putShort(3.toShort).putInt(2).putInt(2).putInt(2)
      .put(payload).array()
    Files.write(Files.createDirectories(s0.resolve("0/0")).resolve("0"), block)
    root
  }

  /** The stored element bytes of the one-voxel level s1. */
  private def level1(root: Path, method: String): ByteBuffer = {
    Multiscale.downsampleLevelBlockLocal(spark, root.toString, "vol", 1,
      Array(2, 2, 2), method)
    val raw = Files.readAllBytes(root.resolve("vol/s1/0/0/0"))
    ByteBuffer.wrap(raw, 16, raw.length - 16).order(ByteOrder.BIG_ENDIAN)
  }

  for (method <- Seq("mean", "min", "max")) {
    test(s"float32 $method of a ±NaN window stores 0x7fc00000") {
      val b = ByteBuffer.allocate(32)
      Seq(negNaN32, posNaN32, 0x3f800000, 0x40000000, 0xbf800000,
        0x40400000, 0x40800000, 0x40a00000).foreach(b.putInt)
      val bits = level1(writeWindow("float32", b.array()), method).getInt
      assert(bits == 0x7fc00000, f"$method stored 0x$bits%08x")
    }

    test(s"float64 $method of a ±NaN window stores 0x7ff8000000000000") {
      val b = ByteBuffer.allocate(64)
      Seq(negNaN64, posNaN64).foreach(b.putLong)
      Seq(1.0, 2.0, -1.0, 3.0, 4.0, 5.0).foreach(b.putDouble)
      val bits = level1(writeWindow("float64", b.array()), method).getLong
      assert(bits == 0x7ff8000000000000L, f"$method stored 0x$bits%016x")
    }
  }
}
