package graft.sources.n5

import java.lang.{Double => JDouble, Float => JFloat}
import java.nio.file.Files

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Box queries answered at block granularity: the element scan trims
  * every block to the box, fills absent blocks, and computes pushed
  * count/sum/min/max per block, as the final row when the box meets one
  * block and as partials Spark merges otherwise. Pushed results must equal
  * the row path's (an aggregate list the scan refuses keeps Spark on rows)
  * for every dtype's extreme values, over boxes inside one stored, absent
  * or edge-trimmed block, straddling eight blocks, covering edge-trimmed
  * and absent blocks, and empty.
  */
class BoxPushdownSpec extends SparkSpec {

  // grid 3×2×2 of 16³ blocks; the last block of each axis is edge-trimmed
  private val dims = Array(40L, 30L, 20L)
  private val bs = Array(16, 16, 16)

  /** Block files that are never written: (0,1,0) and (2,0,1). */
  private def absent(x: Long, y: Long, z: Long): Boolean =
    (x < 16 && y >= 16 && z < 16) || (x >= 32 && y < 16 && z >= 16)

  private def f32(f: Float): Long = JFloat.floatToRawIntBits(f).toLong
  private def f64(d: Double): Long = JDouble.doubleToRawLongBits(d)

  /** DtypeExtremesSpec's extremes, as the bits of each dtype's values. */
  private val extremes: Seq[(Dtype, Seq[Long])] = Seq(
    Dtype.UInt8 -> Seq(0L, 1L, 127L, 128L, 255L),
    Dtype.Int8 -> Seq(-128L, -1L, 0L, 1L, 127L),
    Dtype.UInt16 -> Seq(0L, 1L, 255L, 32767L, 32768L, 65535L),
    Dtype.Int16 -> Seq(-32768L, -1L, 0L, 1L, 128L, 32767L),
    Dtype.UInt32 -> Seq(0L, 1L, 32768L, Int.MaxValue.toLong, 1L << 31, 4294967295L),
    Dtype.Int32 -> Seq(Int.MinValue.toLong, -1L, 0L, 1L, 32768L, Int.MaxValue.toLong),
    Dtype.UInt64 -> Seq(0L, 1L, 1L << 31, 1L << 32, Long.MaxValue,
      Long.MinValue /* 2^63 */, -1L /* 2^64 - 1 */),
    Dtype.Int64 -> Seq(Long.MinValue, -1L, 0L, 1L, 1L << 31, Long.MaxValue),
    Dtype.Float32 -> Seq(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, -0.0f, 0.0f, Float.MinPositiveValue,
      Float.MaxValue, -Float.MaxValue, 1.0f).map(f32),
    Dtype.Float64 -> Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue, 1.0).map(f64))

  private def sparkValue(t: DataType, b: Long): Any = t match {
    case ByteType => b.toByte
    case ShortType => b.toShort
    case IntegerType => b.toInt
    case LongType => b
    case FloatType => JFloat.intBitsToFloat(b.toInt)
    case DoubleType => JDouble.longBitsToDouble(b)
  }

  /** A sparse volume whose voxel (x,y,z) holds extreme (x+3y+5z) mod k,
    * written with the given writer options (N5 gzip by default).
    */
  private def volume(
      dtype: Dtype, ext: Seq[Long],
      opts: Map[String, String] = Map("compression" -> "gzip")): String = {
    val root = Files.createTempDirectory(s"boxpush_${dtype.name}").toString
    val elemT = N5Schema.elementType(dtype)
    val rows = for {
      z <- 0L until dims(2); y <- 0L until dims(1); x <- 0L until dims(0)
      if !absent(x, y, z)
    } yield Row(x, y, z, sparkValue(elemT, ext(((x + 3 * y + 5 * z) % ext.length).toInt)))
    val elems = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq("x", "y", "z").map(StructField(_, LongType)) :+
        StructField("v", elemT)))
    val attrs = DatasetAttributes(dims, bs, dtype, Compression("gzip"))
    // one task, shard by shard, so a shard's inner chunks reach one
    // writer consecutively (shards are 2×1×2 chunks)
    N5.blocksFromElements(elems, attrs).repartition(1)
      .sortWithinPartitions(col("gx").bitwiseAND(-2), col("gy"), col("gz").bitwiseAND(-2))
      .write.format("n5").option("dataset", "v")
      .option("dimensions", dims.mkString(","))
      .option("blockSize", bs.mkString(","))
      .option("dataType", dtype.name)
      .options(opts).mode("append").save(root)
    root
  }

  /** (name, start, end) of the boxes every dtype is checked on. */
  private val boxes: Seq[(String, Array[Long], Array[Long])] = Seq(
    ("inside one block", Array(2L, 3L, 1L), Array(10L, 9L, 7L)),
    ("inside one absent block", Array(2L, 18L, 3L), Array(12L, 27L, 11L)),
    ("inside one edge-trimmed block", Array(33L, 17L, 17L), Array(45L, 35L, 25L)),
    ("straddling 8 blocks", Array(10L, 12L, 9L), Array(21L, 19L, 18L)),
    ("edge-trimmed blocks", Array(30L, 20L, 10L), Array(40L, 30L, 20L)),
    ("absent blocks", Array(5L, 10L, 8L), Array(38L, 30L, 19L)),
    ("the whole volume and beyond", Array(-4L, 0L, 0L), Array(99L, 30L, 25L)),
    ("empty", Array(5L, 5L, 5L), Array(9L, 5L, 9L)),
    ("empty slab over six blocks", Array(0L, 5L, 0L), Array(40L, 5L, 20L)))

  /** The aggregates the scan computes for `dtype`: counts everywhere,
    * sums up to 32-bit integers, minima and maxima for integers.
    */
  private def pushable(dtype: Dtype): Seq[Column] = {
    val v = col("v")
    val counts = Seq(count(lit(1)), count(v))
    if (dtype.isFloat) counts ++ Seq(
      count(when(v >= 0.0, 1)), count(when(v === 0.0, 1)),
      count(when(v > 1.0e30, 1)), count(when(lit(1.0) > v, 1)),
      count(when(v =!= 1.0, 1)), count(when(v.cast("double") <= -1.0, 1)))
    else {
      val c = lit(1) // between the extremes of every integer dtype
      counts ++ (if (dtype.bytesPerElement <= 4) Seq(sum(v)) else Nil) ++ Seq(
        min(v), max(v),
        count(when(v >= c, 1)), count(when(v < 0, 1)), count(when(lit(0) === v, 1)),
        count(when(v =!= 1, 1)), count(when(!(v > 1), 1)))
    }
  }

  private def plan(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(df.explain("formatted"))
    out.toString("UTF-8")
  }

  private def pushed(df: DataFrame): Boolean = plan(df).contains("PushedAggregates")

  for ((dtype, ext) <- extremes) {
    test(s"${dtype.name}: pushed box aggregates equal the row path") {
      val root = volume(dtype, ext)
      val aggs = pushable(dtype)
      for ((name, lo, hi) <- boxes; fill <- Seq(true, false)) {
        val box = N5.readBox(spark, root, "v", lo, hi, fillMissing = fill)
        val fast = box.agg(aggs.head, aggs.tail: _*)
        // max(x) is refused, and Spark pushes all of an aggregation or none
        val rows = box.agg(aggs.head, aggs.tail :+ max(col("x")): _*)
        assert(pushed(fast), s"$name: not pushed\n${plan(fast)}")
        assert(!pushed(rows), s"$name: row path pushed\n${plan(rows)}")
        val want = rows.collect()(0).toSeq.dropRight(1)
        val got = fast.collect()
        assert(got.length == 1, s"$name (fill=$fill): ${got.length} rows")
        assert(got(0).toSeq == want, s"$name (fill=$fill)")
      }
    }
  }

  /** Writer options of the other containers the element scan reads. */
  private val containers: Seq[(String, Map[String, String])] = Seq(
    "N5 gzip" -> Map("compression" -> "gzip"),
    "zarr v2" -> Map("format" -> "zarr", "compression" -> "zlib"),
    "sharded zarr v3" -> Map("format" -> "zarr3", "compression" -> "gzip",
      "shardChunks" -> "2,1,2"))

  for ((container, opts) <- containers)
  test(s"readBox rows are exactly the box, absent blocks filled with zeros ($container)") {
    val ext = extremes.find(_._1 == Dtype.UInt16).get._2
    val root = volume(Dtype.UInt16, ext, opts)
    val aggs = pushable(Dtype.UInt16)
    // both absent chunks share a shard with stored ones, and an unwritten
    // inner chunk of a stored shard reads as fill with or without fillMissing
    val indexFill = opts.contains("shardChunks")
    for ((name, lo, hi) <- boxes; fill <- Seq(true, false)) {
      val box = N5.readBox(spark, root, "v", lo, hi, fill)
      assert(box.agg(aggs.head, aggs.tail: _*).collect().toSeq.map(_.toSeq) ==
        box.agg(aggs.head, aggs.tail :+ max(col("x")): _*).collect().toSeq
          .map(_.toSeq.dropRight(1)), s"$name (fill=$fill): pushed != row path")
      val want = (for {
        z <- math.max(lo(2), 0L) until math.min(hi(2), dims(2))
        y <- math.max(lo(1), 0L) until math.min(hi(1), dims(1))
        x <- math.max(lo(0), 0L) until math.min(hi(0), dims(0))
        if fill || indexFill || !absent(x, y, z)
      } yield (x, y, z) ->
        (if (absent(x, y, z)) 0L else ext(((x + 3 * y + 5 * z) % ext.length).toInt)))
        .toMap
      val got = box.collect()
      assert(got.length == want.size, s"$name (fill=$fill): ${got.length} rows")
      assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        r.getInt(3).toLong).toMap == want, s"$name (fill=$fill)")
    }
  }

  test("the box_queries aggregate is pushed with no Filter above the scan") {
    val root = volume(Dtype.UInt8, extremes.head._2)
    val box = N5.readBox(spark, root, "v", Array(3L, 5L, 2L), Array(35L, 28L, 19L))
    val q = box.agg(count(lit(1)), sum(col("v")).cast("long"),
      max(col("v")).cast("long"), count(when(col("v") >= 128, 1)))
    val p = plan(q)
    assert(p.contains("PushedAggregates"), p)
    assert(!"""\(\d+\) Filter""".r.findFirstIn(p).isDefined, p)
    // the unpushed reference: v + 0 is an expression the scan refuses
    val ref = box.agg(count(lit(1)), sum(col("v") + 0).cast("long"),
      max(col("v") + 0).cast("long"), count(when(col("v") + 0 >= 128, 1)))
    assert(!pushed(ref), plan(ref))
    assert(q.collect().toSeq == ref.collect().toSeq)
    // the partial rows still reach codegen through the columnar bridge
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      assert(box.agg(count(lit(1)), sum(col("v")))
        .queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    } finally spark.conf.set(key, prev)
  }

  test("a box inside one block is answered on the driver, in no job") {
    val root = volume(Dtype.UInt8, extremes.head._2)
    def q(lo: Array[Long], hi: Array[Long]) = N5.readBox(spark, root, "v", lo, hi)
      .agg(count(lit(1)), sum(col("v")).cast("long"), max(col("v")).cast("long"),
        count(when(col("v") >= 128, 1)))
    val one = q(Array(2L, 3L, 1L), Array(10L, 9L, 7L))
    val p = plan(one)
    assert(p.contains("N5DriverAggregate") && p.contains("PushedAggregates"), p)
    assert(!p.contains("Exchange") && !p.contains("HashAggregate"), p)
    // a box over more than one block keeps Spark's merge of the partials
    val straddling = plan(q(Array(10L, 12L, 9L), Array(21L, 19L, 18L)))
    assert(straddling.contains("PushedAggregates") && straddling.contains("Exchange") &&
      straddling.contains("HashAggregate") && !straddling.contains("N5DriverAggregate"),
      straddling)
    val want = one.collect().toSeq
    assert(want.length == 1)
    for ((name, action) <- Seq[(String, DataFrame => Seq[Row])](
        "collect" -> (_.collect().toSeq), "first" -> (df => Seq(df.first())),
        "take(1)" -> (_.take(1).toSeq))) {
      val exec = N5ScanMetricsSpec.execution(spark, one, df => assert(action(df) == want, name))
      assert(exec.jobs.isEmpty, s"$name ran ${exec.jobs.size} jobs")
    }
  }

  test("a one-block aggregate reads its block when it runs, not when it plans") {
    val root = volume(Dtype.UInt8, extremes.head._2)
    val q = N5.readBox(spark, root, "v", Array(2L, 3L, 1L), Array(10L, 9L, 7L))
      .agg(count(lit(1)), sum(col("v")))
    assert(q.queryExecution.executedPlan.toString.contains("N5DriverAggregate"))
    Console.withOut(new java.io.ByteArrayOutputStream())(q.explain())
    val block = java.nio.file.Paths.get(root, "v", "0", "0", "0")
    val bytes = Files.readAllBytes(block)
    Files.write(block, bytes.take(bytes.length / 2))
    val ex = intercept[Exception](q.collect())
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(chain.exists(m => m.contains("v/0/0/0") && m.contains(block.toString)),
      s"expected a failure naming v/0/0/0 and its file, got: $chain")
  }

  test("unpushable aggregates (AVG, min(x)) stay on rows and stay right") {
    val root = volume(Dtype.Int16, extremes.find(_._1 == Dtype.Int16).get._2)
    val (lo, hi) = (Array(10L, 12L, 9L), Array(21L, 19L, 18L))
    val box = N5.readBox(spark, root, "v", lo, hi)
    val vs = box.select(col("v").cast("long")).collect().map(_.getLong(0))
    for ((agg, want) <- Seq(
        avg(col("v")) -> (vs.sum.toDouble / vs.length),
        min(col("x")) -> lo(0).toDouble)) {
      val q = box.agg(agg)
      assert(!pushed(q), plan(q))
      assert(q.collect()(0).getAs[Number](0).doubleValue == want)
    }
  }
}
