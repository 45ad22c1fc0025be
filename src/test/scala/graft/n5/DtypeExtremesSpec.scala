package graft.n5

import java.lang.{Double => JDouble, Float => JFloat}
import java.nio.file.Files

import graft.SparkSpec
import graft.sources.n5.N5Schema
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Every dtype's extreme values (no fixture) through every container and
  * every read path: a small volume holding a dtype's min, max, −1/0/1 and
  * the unsigned sign-bit values (floats: NaN, ±Inf, −0.0, the smallest
  * subnormal, ±max) is written as N5, zarr v2 in both byte orders, zarr v3
  * and sharded zarr v3, then read back through the blocks view,
  * `elementsScan`, `readBox` and `rechunk`. Values compare as bits, so
  * −0.0 and NaN count. uint64 values above Long.MaxValue travel as the
  * Long of the same 64 bits.
  */
class DtypeExtremesSpec extends SparkSpec {

  // edge blocks are trimmed in x and y, so zarr pads and trims
  private val dims = Array(5L, 3L, 2L)
  private val bs = Array(4, 2, 2)

  private def f32(f: Float): Long = JFloat.floatToRawIntBits(f).toLong
  private def f64(d: Double): Long = JDouble.doubleToRawLongBits(d)

  /** Per dtype: the extremes as the bits [[bits]] reads back. */
  private val extremes: Seq[(Dtype, Seq[Long])] = Seq(
    Dtype.UInt8 -> Seq(0L, 1L, 127L, 128L, 255L),
    Dtype.Int8 -> Seq(-128L, -1L, 0L, 1L, 127L),
    Dtype.UInt16 -> Seq(0L, 1L, 255L, 32767L, 32768L, 65535L),
    Dtype.Int16 -> Seq(-32768L, -1L, 0L, 1L, 128L, 32767L),
    Dtype.UInt32 -> Seq(0L, 1L, 32768L, Int.MaxValue.toLong, 1L << 31,
      4294967295L),
    Dtype.Int32 -> Seq(Int.MinValue.toLong, -1L, 0L, 1L, 32768L,
      Int.MaxValue.toLong),
    Dtype.UInt64 -> Seq(0L, 1L, 1L << 31, 1L << 32, Long.MaxValue,
      Long.MinValue /* 2^63 */, -1L /* 2^64 - 1 */),
    Dtype.Int64 -> Seq(Long.MinValue, -1L, 0L, 1L, 1L << 31, Long.MaxValue),
    Dtype.Float32 -> Seq(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, -0.0f, 0.0f, Float.MinPositiveValue,
      Float.MaxValue, -Float.MaxValue, 1.0f).map(f32),
    Dtype.Float64 -> Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, 1.0).map(f64))

  /** Writer options per container (compression included). */
  private val containers: Seq[(String, Map[String, String])] = Seq(
    "N5 gzip" -> Map("compression" -> "gzip"),
    "zarr v2 little-endian" -> Map("format" -> "zarr", "compression" -> "zlib"),
    "zarr v2 big-endian" -> Map("format" -> "zarr", "compression" -> "zlib",
      "zarrLittleEndian" -> "false"),
    "zarr v3" -> Map("format" -> "zarr3", "compression" -> "gzip"),
    "sharded zarr v3" -> Map("format" -> "zarr3", "compression" -> "gzip",
      "shardChunks" -> "2,2,1"))

  /** A read-back value as bits: floats by their raw bits, integers by
    * value.
    */
  private def bits(v: Any): Long = v match {
    case f: Float => f32(f)
    case d: Double => f64(d)
    case n: java.lang.Number => n.longValue
  }

  private def sparkValue(t: DataType, b: Long): Any = t match {
    case ByteType => b.toByte
    case ShortType => b.toShort
    case IntegerType => b.toInt
    case LongType => b
    case FloatType => JFloat.intBitsToFloat(b.toInt)
    case DoubleType => JDouble.longBitsToDouble(b)
  }

  /** Voxel (x,y,z) holds the extreme at its x-fastest flat index mod k. */
  private def expected(ext: Seq[Long]): Map[(Long, Long, Long), Long] =
    (0L until dims.product).map { i =>
      (i % dims(0), (i / dims(0)) % dims(1), i / (dims(0) * dims(1))) ->
        ext((i % ext.length).toInt)
    }.toMap

  private def voxels(elems: DataFrame): Map[(Long, Long, Long), Long] = {
    val rows = elems.select("x", "y", "z", "v").collect()
    assert(rows.length == dims.product, s"${rows.length} voxels read back")
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> bits(r.get(3)))
      .toMap
  }

  /** The blocks view unravelled by hand: x-fastest in the trimmed shape. */
  private def blockVoxels(blocks: DataFrame): Map[(Long, Long, Long), Long] =
    blocks.select("x0", "y0", "z0", "shape", "data").collect().flatMap { r =>
      val Seq(sx, sy, _) = r.getSeq[Int](3)
      r.getSeq[Any](4).zipWithIndex.map { case (v, i) =>
        (r.getLong(0) + i % sx, r.getLong(1) + (i / sx) % sy,
          r.getLong(2) + i / (sx * sy)) -> bits(v)
      }
    }.toMap

  private def diff(
      what: String, want: Map[(Long, Long, Long), Long],
      got: Map[(Long, Long, Long), Long]): Unit = {
    val bad = want.collect {
      case (k, v) if !got.get(k).contains(v) => s"$k want $v got ${got.get(k)}"
    }
    assert(got.size == want.size && bad.isEmpty,
      s"$what: ${got.size} voxels, mismatches: ${bad.take(5).mkString("; ")}")
  }

  for ((dtype, ext) <- extremes; (container, opts) <- containers) {
    test(s"${dtype.name} extremes round-trip through $container") {
      val root = Files.createTempDirectory(s"extremes_${dtype.name}").toString
      val elemT = N5Schema.elementType(dtype)
      val want = expected(ext)
      val rows = want.toSeq.map { case ((x, y, z), b) =>
        Row(x, y, z, sparkValue(elemT, b))
      }
      val elems = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq("x", "y", "z").map(StructField(_, LongType)) :+
          StructField("v", elemT)))
      val target = DatasetAttributes(dims, bs, dtype, Compression("gzip"))
      // one task, so a shard's inner chunks reach a single writer
      N5.blocksFromElements(elems, target).coalesce(1)
        .write.format("n5").option("dataset", "v")
        .option("dimensions", dims.mkString(","))
        .option("blockSize", bs.mkString(","))
        .option("dataType", dtype.name)
        .options(opts).mode("append").save(root)

      diff("blocks view", want, blockVoxels(N5.read(spark, root, "v")))
      diff("elementsScan", want, voxels(N5.elementsScan(spark, root, "v")))
      diff("readBox", want, voxels(
        N5.readBox(spark, root, "v", Array(0L, 0L, 0L), dims)))
      N5.rechunk(spark, root, "v", root, "r", Array(2, 3, 1))
      diff("rechunk", want, voxels(N5.elementsScan(spark, root, "r")))
    }
  }
}
