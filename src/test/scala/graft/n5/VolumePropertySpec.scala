package graft.n5

import java.lang.{Double => JDouble, Float => JFloat}
import java.nio.file.Files

import graft.SparkSpec
import graft.sources.n5.N5Schema
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Property-based volume laws (SURVEY §5.4) over seeded random cases:
  * read(write(v)) == v, the writeBox overlay, box reads commute with
  * rechunk, block-local coarsen equals element coarsen, and the windowed
  * mean of a constant volume is constant. The laws run on uint8 volumes
  * and again with the dtype as one more input: every other dtype, with
  * values drawn from its extremes (int8 negatives, uint16 ≥ 32768,
  * uint32 ≥ 2³¹, uint64 2⁶³ and 2⁶⁴−1 as Long bits, float NaN, ±Inf and
  * −0.0).
  */
class VolumePropertySpec extends SparkSpec {

  /** 5 deterministic random (dims, blockSize, seed) cases. */
  private def cases: Seq[(Array[Long], Array[Int], Long)] = {
    val rng = new scala.util.Random(20260812L)
    def in(lo: Int, hi: Int) = lo + rng.nextInt(hi - lo + 1)
    Seq.fill(5)((
      Array(in(3, 20).toLong, in(3, 20).toLong, in(3, 12).toLong),
      Array(in(2, 8), in(2, 8), in(2, 8)),
      rng.nextLong().abs % 1000000L))
  }

  private def forAllCases(f: (Array[Long], Array[Int], Long) => Unit): Unit =
    cases.foreach { case (d, b, s) => f(d, b, s) }

  /** Deterministic voxel value from coordinates. */
  private def voxel(seed: Long, x: Long, y: Long, z: Long): Long =
    math.abs(seed + x * 31 + y * 131 + z * 1031) % 256

  /** Materialize a synthetic volume as an N5 dataset; returns its root. */
  private def writeVolume(
      dims: Array[Long], bs: Array[Int], seed: Long): String = {
    val root = Files.createTempDirectory("prop").toString
    val attrs = DatasetAttributes(dims, bs, Dtype.UInt8, Compression("gzip"))
    val elems = spark.range(dims.product)
      .select(
        (col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .select(col("x"), col("y"), col("z"),
        (abs(lit(seed) + col("x") * 31 + col("y") * 131 + col("z") * 1031) % 256)
          .as("v"))
    val blocks = N5.blocksFromElements(elems, attrs)
    N5.write(blocks, root, "vol/s0", attrs)
    root
  }

  test("read(write(v)) == v for random volumes and block sizes") {
    forAllCases { (dims, bs, seed) =>
      val root = writeVolume(dims, bs, seed)
      val back = N5.elements(N5.read(spark, root, "vol/s0")).collect()
      assert(back.length == dims.product)
      back.foreach { r =>
        val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(r.getAs[Number](3).longValue() == voxel(seed, x, y, z),
          s"voxel ($x,$y,$z) dims=${dims.mkString("x")} bs=${bs.mkString("x")}")
      }
    }
  }

  test("writeBox law: persisted overlay equals the in-memory overlay") {
    forAllCases { (dims, bs, seed) =>
      val root = writeVolume(dims, bs, seed)
      val rng = new scala.util.Random(seed)
      def pick(d: Long): (Long, Long) = {
        val a = rng.nextInt(d.toInt)
        (a.toLong, (a + 1 + rng.nextInt(d.toInt - a)).toLong)
      }
      val (x0, x1) = pick(dims(0))
      val (y0, y1) = pick(dims(1))
      val (z0, z1) = pick(dims(2))
      val start = Array(x0, y0, z0)
      val end = Array(x1, y1, z1)
      def patched(x: Long, y: Long, z: Long): Long =
        (x * 7 + y * 3 + z * 11 + seed) % 256
      val patch = N5.boxGrid(spark, start, end)
        .select(col("x"), col("y"), col("z"),
          ((col("x") * 7 + col("y") * 3 + col("z") * 11 + seed) % 256).as("v"))
      N5.writeBox(spark, root, "vol/s0", start, end, patch)
      val back = N5.elements(N5.read(spark, root, "vol/s0")).collect()
      assert(back.length == dims.product)
      back.foreach { r =>
        val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val inBox = x >= x0 && x < x1 && y >= y0 && y < y1 && z >= z0 && z < z1
        val expected = if (inBox) patched(x, y, z) else voxel(seed, x, y, z)
        assert(r.getAs[Number](3).longValue() == expected,
          s"voxel ($x,$y,$z) box=[${start.mkString(",")},${end.mkString(",")}) " +
            s"dims=${dims.mkString("x")} bs=${bs.mkString("x")}")
      }
    }
  }

  test("rechunk preserves voxels and box reads commute with rechunk") {
    forAllCases { (dims, bs, seed) =>
      val root = writeVolume(dims, bs, seed)
      val root2 = Files.createTempDirectory("prop2").toString
      N5.rechunk(spark, root, "vol/s0", root2, "vol/s0",
        Array(bs(0) + 1, math.max(2, bs(1) - 1), bs(2) + 2))
      val box = (Array(1L, 1L, 1L),
        Array(math.min(dims(0), 4L), math.min(dims(1), 5L), math.min(dims(2), 3L)))
      val a = N5.readBox(spark, root, "vol/s0", box._1, box._2)
        .orderBy("x", "y", "z").collect().toSeq
      val b = N5.readBox(spark, root2, "vol/s0", box._1, box._2)
        .orderBy("x", "y", "z").collect().toSeq
      assert(a == b, s"box read differs after rechunk dims=${dims.mkString("x")}")
    }
  }

  test("block-local coarsen equals element coarsen on random volumes") {
    forAllCases { (dims0, bs0, seed) =>
      // force factor-divisible block sizes (the block-local precondition)
      val bs = bs0.map(b => math.max(2, b / 2 * 2))
      val dims = dims0.map(d => math.max(4L, d))
      val r1 = writeVolume(dims, bs, seed)
      val r2 = writeVolume(dims, bs, seed)
      Multiscale.downsampleLevelBlockLocal(spark, r1, "vol", 1, Array(2, 2, 2))
      Multiscale.downsampleLevelElements(spark, r2, "vol", 1, Array(2, 2, 2))
      val a = N5.elements(N5.read(spark, r1, "vol/s1"))
      val b = N5.elements(N5.read(spark, r2, "vol/s1"))
        .withColumnRenamed("v", "v2")
      val j = a.join(b, Seq("x", "y", "z"))
      assert(a.count() == dims.zip(Seq(2, 2, 2)).map { case (d, f) => d / f }.product,
        s"dims=${dims.mkString("x")} bs=${bs.mkString("x")}")
      assert(j.count() == a.count())
      assert(j.filter(col("v") =!= col("v2")).count() == 0L,
        s"coarsen mismatch dims=${dims.mkString("x")} bs=${bs.mkString("x")}")
    }
  }

  test("windowed mean of a constant volume is that constant") {
    val dims = Array(8L, 8L, 4L)
    val root = Files.createTempDirectory("propc").toString
    val attrs = DatasetAttributes(dims, Array(4, 4, 2), Dtype.UInt8,
      Compression("gzip"))
    val elems = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"),
        lit(7).as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), root, "vol/s0", attrs)
    Multiscale.downsampleLevel(spark, root, "vol", 1, Array(2, 2, 2))
    val s1 = N5.elements(N5.read(spark, root, "vol/s1"))
    assert(s1.count() == 4L * 4 * 2)
    assert(s1.filter(col("v") =!= 7).count() == 0L)
  }

  // ---- the same laws with the dtype as an input ----------------------

  private def f32(f: Float): Long = JFloat.floatToRawIntBits(f).toLong
  private def f64(d: Double): Long = JDouble.doubleToRawLongBits(d)

  /** Per dtype: extremes plus ordinary values, as the bits [[bits]] reads
    * back (floats by their raw bits, integers by value).
    */
  private val dtypeValues: Seq[(Dtype, Seq[Long])] = Seq(
    Dtype.Int8 -> Seq(-128L, -1L, 0L, 1L, 5L, 100L, 127L),
    Dtype.UInt16 -> Seq(0L, 1L, 255L, 32767L, 32768L, 40000L, 65535L),
    Dtype.Int16 -> Seq(-32768L, -1L, 0L, 1L, 128L, 1000L, 32767L),
    Dtype.UInt32 -> Seq(0L, 1L, 32768L, Int.MaxValue.toLong, 1L << 31,
      3000000000L, 4294967295L),
    Dtype.Int32 -> Seq(Int.MinValue.toLong, -1L, 0L, 1L, 32768L, -70000L,
      Int.MaxValue.toLong),
    Dtype.UInt64 -> Seq(0L, 1L, 1L << 31, 1L << 32, Long.MaxValue,
      Long.MinValue /* 2^63 */, -1L /* 2^64 - 1 */),
    Dtype.Int64 -> Seq(Long.MinValue, -1L, 0L, 1L, 1L << 31, 1L << 40,
      Long.MaxValue),
    Dtype.Float32 -> Seq(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, -0.0f, 0.0f, 1.5f, -2.25f, 3.0e7f).map(f32),
    Dtype.Float64 -> Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, 1.5, -2.25, 1.0e300).map(f64))

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

  /** Value of `dtype` at one of the bits in `ext`, as a Double. */
  private def asDouble(dtype: Dtype, b: Long): Double = dtype match {
    case Dtype.Float32 => JFloat.intBitsToFloat(b.toInt).toDouble
    case Dtype.Float64 => JDouble.longBitsToDouble(b)
    case _ => b.toDouble
  }

  /** Equal bits, or equal float values (−0.0 = 0.0; NaN = NaN): Spark's
    * min/max do not order −0.0 below 0.0, the block-local kernel does.
    */
  private def same(dtype: Dtype, a: Long, b: Long): Boolean =
    a == b || (dtype.isFloat && {
      val (x, y) = (asDouble(dtype, a), asDouble(dtype, b))
      x == y || (x.isNaN && y.isNaN)
    })

  /** Two random cases per dtype, from the uint8 laws' generator. */
  private def dtypeCases = cases.take(2)

  private def valueAt(ext: Seq[Long], salt: Long)(x: Long, y: Long, z: Long): Long =
    ext((math.abs(salt + x * 31 + y * 131 + z * 1031) % ext.length).toInt)

  /** Elements (x,y,z,v) of the box [start, end) with `v` of `dtype`. */
  private def elemsOf(
      dtype: Dtype, start: Array[Long], end: Array[Long],
      f: (Long, Long, Long) => Long): DataFrame = {
    val elemT = N5Schema.elementType(dtype)
    val rows = for {
      z <- start(2) until end(2); y <- start(1) until end(1)
      x <- start(0) until end(0)
    } yield Row(x, y, z, sparkValue(elemT, f(x, y, z)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq("x", "y", "z").map(StructField(_, LongType)) :+
        StructField("v", elemT)))
  }

  private def writeVolumeOf(
      dtype: Dtype, dims: Array[Long], bs: Array[Int],
      f: (Long, Long, Long) => Long): String = {
    val root = Files.createTempDirectory(s"prop_${dtype.name}").toString
    val attrs = DatasetAttributes(dims, bs, dtype, Compression("gzip"))
    N5.write(N5.blocksFromElements(elemsOf(dtype, Array(0L, 0L, 0L), dims, f),
      attrs), root, "vol/s0", attrs)
    root
  }

  private def voxelBits(elems: DataFrame): Map[(Long, Long, Long), Long] =
    elems.select("x", "y", "z", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> bits(r.get(3)))
      .toMap

  private def assertVoxels(
      what: String, dtype: Dtype, dims: Array[Long],
      got: Map[(Long, Long, Long), Long],
      want: (Long, Long, Long) => Long): Unit = {
    assert(got.size == dims.product, s"$what: ${got.size} voxels")
    val bad = got.collect {
      case ((x, y, z), v) if !same(dtype, v, want(x, y, z)) =>
        s"($x,$y,$z) got $v want ${want(x, y, z)}"
    }
    assert(bad.isEmpty, s"$what dims=${dims.mkString("x")}: " +
      bad.take(5).mkString("; "))
  }

  for ((dtype, ext) <- dtypeValues) {
    test(s"${dtype.name}: read(write(v)) == v for random volumes and block sizes") {
      for ((dims, bs, seed) <- dtypeCases) {
        val f = valueAt(ext, seed) _
        val root = writeVolumeOf(dtype, dims, bs, f)
        assertVoxels("blocks view", dtype, dims,
          voxelBits(N5.elements(N5.read(spark, root, "vol/s0"))), f)
        assertVoxels("elementsScan", dtype, dims,
          voxelBits(N5.elementsScan(spark, root, "vol/s0")), f)
      }
    }

    test(s"${dtype.name}: writeBox law: persisted overlay equals the in-memory overlay") {
      for ((dims, bs, seed) <- dtypeCases) {
        val f = valueAt(ext, seed) _
        val root = writeVolumeOf(dtype, dims, bs, f)
        val rng = new scala.util.Random(seed)
        def pick(d: Long): (Long, Long) = {
          val a = rng.nextInt(d.toInt)
          (a.toLong, (a + 1 + rng.nextInt(d.toInt - a)).toLong)
        }
        val (x0, x1) = pick(dims(0))
        val (y0, y1) = pick(dims(1))
        val (z0, z1) = pick(dims(2))
        val (start, end) = (Array(x0, y0, z0), Array(x1, y1, z1))
        val patched = valueAt(ext.reverse, seed + 7) _
        N5.writeBox(spark, root, "vol/s0", start, end,
          elemsOf(dtype, start, end, patched))
        assertVoxels("overlay", dtype, dims,
          voxelBits(N5.elementsScan(spark, root, "vol/s0")),
          (x, y, z) =>
            if (x >= x0 && x < x1 && y >= y0 && y < y1 && z >= z0 && z < z1)
              patched(x, y, z)
            else f(x, y, z))
      }
    }

    test(s"${dtype.name}: rechunk preserves voxels and box reads commute with rechunk") {
      for ((dims, bs, seed) <- dtypeCases) {
        val f = valueAt(ext, seed) _
        val root = writeVolumeOf(dtype, dims, bs, f)
        val root2 = Files.createTempDirectory("prop2").toString
        N5.rechunk(spark, root, "vol/s0", root2, "vol/s0",
          Array(bs(0) + 1, math.max(2, bs(1) - 1), bs(2) + 2))
        assertVoxels("rechunk", dtype, dims,
          voxelBits(N5.elementsScan(spark, root2, "vol/s0")), f)
        val (lo, hi) = (Array(1L, 1L, 1L),
          Array(math.min(dims(0), 4L), math.min(dims(1), 5L), math.min(dims(2), 3L)))
        val a = voxelBits(N5.readBox(spark, root, "vol/s0", lo, hi))
        val b = voxelBits(N5.readBox(spark, root2, "vol/s0", lo, hi))
        assert(a.keySet == b.keySet && a.forall { case (k, v) => same(dtype, v, b(k)) },
          s"box read differs after rechunk dims=${dims.mkString("x")}")
      }
    }

    test(s"${dtype.name}: block-local coarsen equals element coarsen (mean, min, max)") {
      for ((dims0, bs0, seed) <- dtypeCases; method <- Seq("mean", "min", "max")) {
        val bs = bs0.map(b => math.max(2, b / 2 * 2))
        val dims = dims0.map(d => math.max(4L, d))
        val f = valueAt(ext, seed) _
        val r1 = writeVolumeOf(dtype, dims, bs, f)
        val r2 = writeVolumeOf(dtype, dims, bs, f)
        Multiscale.downsampleLevelBlockLocal(spark, r1, "vol", 1, Array(2, 2, 2), method)
        Multiscale.downsampleLevelElements(spark, r2, "vol", 1, Array(2, 2, 2), method)
        val dst = dims.map(_ / 2)
        val local = voxelBits(N5.elementsScan(spark, r1, "vol/s1"))
        // float and 64-bit means: the element path sums in partition
        // order, so it may differ in the last ulp; the block-local kernel
        // sums in window order, which this reference repeats
        val windowOrder = method == "mean" &&
          (dtype.isFloat || dtype.bytesPerElement == 8)
        val want: (Long, Long, Long) => Long =
          if (windowOrder) { (x, y, z) =>
            var s = 0.0
            for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
              s += asDouble(dtype, f(2 * x + dx, 2 * y + dy, 2 * z + dz))
            val m = s / 8
            dtype match {
              case Dtype.Float32 => f32(m.toFloat)
              case Dtype.Float64 => f64(m)
              case _ => m.toLong
            }
          } else {
            val element = voxelBits(N5.elementsScan(spark, r2, "vol/s1"))
            (x, y, z) => element.getOrElse((x, y, z), Long.MinValue + 7)
          }
        assertVoxels(s"$method coarsen bs=${bs.mkString("x")}", dtype, dst,
          local, want)
      }
    }
  }
}
