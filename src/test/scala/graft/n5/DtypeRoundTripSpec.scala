package graft.n5

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.n5.N5Schema
import org.apache.spark.sql.functions._

/** DSv2 connector coverage across dtypes: write + read-back through the
  * full source/sink path (not just the codec) for uint16, int32, int64 and
  * float64, including values exercising the unsigned widening.
  */
class DtypeRoundTripSpec extends SparkSpec {

  private def roundTrip(dtype: Dtype, gen: Long => Any): Unit = {
    val root = Files.createTempDirectory(s"dt_${dtype.name}").toString
    val dims = Array(7L, 5L, 3L)
    val attrs = DatasetAttributes(dims, Array(4, 4, 2), dtype,
      Compression("gzip"))
    val elemT = N5Schema.elementType(dtype)
    val elems = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"),
        col("id").as("seed"))
      .withColumn("v", typedLit(0)) // replaced below per dtype
    // deterministic values via SQL on the seed, then cast to the element type
    val valued = dtype match {
      case Dtype.UInt16 => elems.withColumn("v",
        (col("seed") * 631 % 65536).cast(elemT))
      case Dtype.Int32 => elems.withColumn("v",
        ((col("seed") * 2654435761L % 4000000000L) - 2000000000L).cast(elemT))
      case Dtype.Int64 => elems.withColumn("v",
        ((col("seed") - 52) * 10000000000000000L + 7).cast(elemT))
      case Dtype.Float64 => elems.withColumn("v",
        (sin(col("seed").cast("double")) * 1e6).cast(elemT))
      case other => fail(s"unhandled $other")
    }
    N5.write(N5.blocksFromElements(
      valued.select("x", "y", "z", "v"), attrs), root, "v/s0", attrs)
    // attrs round trip
    val back = N5Meta.datasetAttributes(root, "v/s0")
    assert(back.dataType == dtype)
    // voxel equality through the connector
    val orig = valued.select(col("x"), col("y"), col("z"),
      col("v").cast("double").as("v"))
    val rt = N5.elements(N5.read(spark, root, "v/s0"))
      .select(col("x"), col("y"), col("z"), col("v").cast("double").as("v2"))
    val j = orig.join(rt, Seq("x", "y", "z"))
    assert(j.count() == dims.product, dtype.name)
    assert(j.filter(col("v") =!= col("v2")).count() == 0L, dtype.name)
  }

  test("uint16 volume round-trips through the connector") {
    roundTrip(Dtype.UInt16, identity)
  }

  test("bzip2/lz4/zstd/xz datasets round-trip through the connector") {
    for (codec <- Seq("bzip2", "lz4", "zstd", "xz")) {
      val root = Files.createTempDirectory(s"cc_$codec").toString
      val dims = Array(9L, 6L, 4L)
      val attrs = DatasetAttributes(dims, Array(4, 4, 4), Dtype.UInt8,
        Compression(codec, Compression.defaultParam(codec)))
      val elems = spark.range(dims.product)
        .select((col("id") % dims(0)).as("x"),
          ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
          (col("id") / (dims(0) * dims(1))).cast("long").as("z"),
          (col("id") % 256).as("v"))
      N5.write(N5.blocksFromElements(elems, attrs), root, "v/s0", attrs)
      val back = N5Meta.datasetAttributes(root, "v/s0")
      assert(back.compression.codec == codec, codec)
      val n = N5.elements(N5.read(spark, root, "v/s0"))
        .agg(count(lit(1)), sum(col("v"))).collect()(0)
      assert(n.getLong(0) == dims.product, codec)
      assert(n.getLong(1) == spark.range(dims.product)
        .agg(sum(col("id") % 256)).collect()(0).getLong(0), codec)
    }
  }
  test("int32 volume round-trips through the connector") {
    roundTrip(Dtype.Int32, identity)
  }
  test("int64 volume round-trips through the connector") {
    roundTrip(Dtype.Int64, identity)
  }
  test("float64 volume round-trips through the connector") {
    roundTrip(Dtype.Float64, identity)
  }
}
