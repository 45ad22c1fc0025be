package graft.n5

import java.io.ByteArrayOutputStream
import java.lang.{Double => JDouble, Float => JFloat}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import graft.sources.n5.N5Schema
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The bytes the engine writes, built independently here: for every
  * dtype, each N5 block file equals the N5 header (mode 0, ndim, the
  * trimmed block dims, all big-endian) followed by `GZIPOutputStream` of
  * the block's big-endian element bytes, and each raw-compressor zarr v2
  * little-endian chunk equals the block's little-endian element bytes,
  * zero-padded to the full chunk shape at the volume's edge.
  */
class GoldenBytesSpec extends SparkSpec {

  // edge blocks are trimmed in x and z, so the zarr edge chunks pad
  private val dims = Array(5L, 4L, 3L)
  private val bs = Array(3, 2, 2)

  /** Per dtype, values written in x-fastest order (mod length): integer
    * values, or a float's raw bits.
    */
  private val values: Seq[(Dtype, Seq[Long])] = Seq(
    Dtype.UInt8 -> Seq(0L, 1L, 127L, 128L, 255L),
    Dtype.Int8 -> Seq(-128L, -1L, 0L, 1L, 127L),
    Dtype.UInt16 -> Seq(0L, 1L, 255L, 32768L, 65535L),
    Dtype.Int16 -> Seq(-32768L, -1L, 0L, 258L, 32767L),
    Dtype.UInt32 -> Seq(0L, 1L, 1L << 31, 4294967295L),
    Dtype.Int32 -> Seq(Int.MinValue.toLong, -1L, 0L, 65536L, Int.MaxValue.toLong),
    Dtype.UInt64 -> Seq(0L, 1L, Long.MaxValue, Long.MinValue, -1L),
    Dtype.Int64 -> Seq(Long.MinValue, -1L, 0L, 1L << 40, Long.MaxValue),
    Dtype.Float32 -> Seq(Float.NaN, Float.NegativeInfinity, -0.0f, 1.5f,
      Float.MaxValue).map(f => JFloat.floatToRawIntBits(f).toLong),
    Dtype.Float64 -> Seq(Double.NaN, Double.PositiveInfinity, -0.0, -2.25,
      Double.MinPositiveValue).map(JDouble.doubleToRawLongBits))

  private def valueAt(ext: Seq[Long], x: Long, y: Long, z: Long): Long =
    ext(((x + y * dims(0) + z * dims(0) * dims(1)) % ext.length).toInt)

  /** `n` elements of `dtype` in `order`, element i the value at the
    * i-th x-fastest voxel of the block at `origin` with shape `shape`.
    */
  private def elementBytes(
      dtype: Dtype, ext: Seq[Long], origin: Array[Long], shape: Array[Int],
      order: ByteOrder): Array[Byte] = {
    val buf = ByteBuffer.allocate(shape.product * dtype.bytesPerElement).order(order)
    for (z <- 0 until shape(2); y <- 0 until shape(1); x <- 0 until shape(0)) {
      val b = valueAt(ext, origin(0) + x, origin(1) + y, origin(2) + z)
      dtype.bytesPerElement match {
        case 1 => buf.put(b.toByte)
        case 2 => buf.putShort(b.toShort)
        case 4 => buf.putInt(b.toInt)
        case 8 => buf.putLong(b)
      }
    }
    buf.array()
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(bos)
    out.write(b)
    out.close()
    bos.toByteArray
  }

  private def sparkValue(t: DataType, b: Long): Any = t match {
    case ByteType => b.toByte
    case ShortType => b.toShort
    case IntegerType => b.toInt
    case LongType => b
    case FloatType => JFloat.intBitsToFloat(b.toInt)
    case DoubleType => JDouble.longBitsToDouble(b)
  }

  private def write(
      dtype: Dtype, ext: Seq[Long], attrs: DatasetAttributes,
      root: String): Unit = {
    val elemT = N5Schema.elementType(dtype)
    val rows = for {
      z <- 0L until dims(2); y <- 0L until dims(1); x <- 0L until dims(0)
    } yield Row(x, y, z, sparkValue(elemT, valueAt(ext, x, y, z)))
    val elems = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq("x", "y", "z").map(StructField(_, LongType)) :+
        StructField("v", elemT)))
    N5.write(N5.blocksFromElements(elems, attrs), root, "v", attrs)
  }

  private def grids: Seq[Array[Int]] = for {
    gz <- 0 until 2; gy <- 0 until 2; gx <- 0 until 2
  } yield Array(gx, gy, gz)

  for ((dtype, ext) <- values) {
    test(s"${dtype.name}: N5 gzip blocks are the header plus gzip of big-endian elements") {
      val root = Files.createTempDirectory(s"golden_${dtype.name}").toString
      val attrs = DatasetAttributes(dims, bs, dtype, Compression("gzip"))
      write(dtype, ext, attrs, root)
      for (g <- grids) {
        val shape = attrs.blockShape(g)
        val origin = g.zip(bs).map { case (i, b) => i.toLong * b }
        val header = ByteBuffer.allocate(4 + 4 * 3).order(ByteOrder.BIG_ENDIAN)
        header.putShort(0.toShort).putShort(3.toShort)
        shape.foreach(header.putInt)
        val want = header.array() ++
          gzip(elementBytes(dtype, ext, origin, shape, ByteOrder.BIG_ENDIAN))
        val got = Files.readAllBytes(Paths.get(root, "v", g.mkString("/")))
        assert(got.sameElements(want), s"block ${g.mkString("/")}")
      }
    }

    test(s"${dtype.name}: raw zarr v2 little-endian chunks are zero-padded elements") {
      val root = Files.createTempDirectory(s"goldenz_${dtype.name}").toString
      val attrs = DatasetAttributes(dims, bs, dtype, Compression("raw"),
        format = "zarr")
      write(dtype, ext, attrs, root)
      for (g <- grids) {
        val shape = attrs.blockShape(g)
        val origin = g.zip(bs).map { case (i, b) => i.toLong * b }
        val es = dtype.bytesPerElement
        val trimmed = elementBytes(dtype, ext, origin, shape, ByteOrder.LITTLE_ENDIAN)
        val want = new Array[Byte](bs.product * es)
        for (z <- 0 until shape(2); y <- 0 until shape(1))
          System.arraycopy(trimmed, (y + z * shape(1)) * shape(0) * es,
            want, (y + z * bs(1)) * bs(0) * es, shape(0) * es)
        // zarr v2 keys reverse the engine's x,y,z axes
        val got = Files.readAllBytes(Paths.get(root, "v", g.reverse.mkString(".")))
        assert(got.sameElements(want), s"chunk ${g.reverse.mkString(".")}")
      }
    }
  }
}
