package graft.n5

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fragment-regroup rechunk: equivalence with the element-shuffle path on
  * the golden fixture and on a float32 volume (bit-exact payload transport).
  */
class RegroupSpec extends SparkSpec {

  private val fixtureRoot = "/root/reference/data/test.n5"
  private val fixtureDs = "mri/c0/s0"

  test("fragment rechunk equals element rechunk per voxel (fixture, 48^3)") {
    val t1 = Files.createTempDirectory("rgA").toString
    val t2 = Files.createTempDirectory("rgB").toString
    Regroup.rechunkBlocks(spark, fixtureRoot, fixtureDs, t1, "v/s0",
      Array(48, 48, 48))
    N5.rechunkViaElements(spark, fixtureRoot, fixtureDs, t2, "v/s0",
      Array(48, 48, 48))
    val a = N5.elements(N5.read(spark, t1, "v/s0"))
    val b = N5.elements(N5.read(spark, t2, "v/s0"))
      .withColumnRenamed("v", "v2")
    assert(a.count() == 1134972L)
    val j = a.join(b, Seq("x", "y", "z"))
    assert(j.count() == 1134972L)
    assert(j.filter(col("v") =!= col("v2")).count() == 0L)
    // block files must match the 48^3 grid of a 186x226x27 volume: 4x5x1
    val blocks = N5.read(spark, t1, "v/s0").count()
    assert(blocks == 4L * 5 * 1)
  }

  test("block-local multiscale coarsen equals the element-shuffle path") {
    val t1 = Files.createTempDirectory("msA").toString
    val t2 = Files.createTempDirectory("msB").toString
    // 48^3 chunking: 48 divisible by 2 -> block-local path eligible
    N5.rechunk(spark, fixtureRoot, fixtureDs, t1, "vol/s0", Array(48, 48, 48))
    N5.rechunk(spark, fixtureRoot, fixtureDs, t2, "vol/s0", Array(48, 48, 48))
    Multiscale.downsampleLevelBlockLocal(spark, t1, "vol", 1, Array(2, 2, 2))
    Multiscale.downsampleLevelElements(spark, t2, "vol", 1, Array(2, 2, 2))
    val a = N5.elements(N5.read(spark, t1, "vol/s1"))
    val b = N5.elements(N5.read(spark, t2, "vol/s1"))
      .withColumnRenamed("v", "v2")
    val j = a.join(b, Seq("x", "y", "z"))
    assert(a.count() == 93L * 113 * 13)
    assert(j.count() == a.count())
    assert(j.filter(col("v") =!= col("v2")).count() == 0L)
  }

  test("float32 block-local coarsen matches the element-shuffle mean") {
    val root = Files.createTempDirectory("msF").toString
    val dims = Array(32L, 16L, 8L)
    val attrs = DatasetAttributes(dims, Array(8, 8, 8), Dtype.Float32,
      Compression("gzip"))
    def gen = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .withColumn("v", (sin(col("x") * 0.9) * 10 + col("y") * 0.5
        + col("z")).cast("float"))
    for (r <- Seq(s"$root/a.n5", s"$root/b.n5"))
      N5.write(N5.blocksFromElements(gen, attrs), r, "vol/s0", attrs)
    // 8 % 2 == 0 -> the dispatcher must take the block-local path for
    // floats too (r4); both paths' means agree within float ulp slack
    // (summation order differs)
    Multiscale.downsampleLevelBlockLocal(spark, s"$root/a.n5", "vol", 1,
      Array(2, 2, 2))
    Multiscale.downsampleLevelElements(spark, s"$root/b.n5", "vol", 1,
      Array(2, 2, 2))
    val a = N5.elements(N5.read(spark, s"$root/a.n5", "vol/s1"))
    val b = N5.elements(N5.read(spark, s"$root/b.n5", "vol/s1"))
      .withColumnRenamed("v", "v2")
    val j = a.join(b, Seq("x", "y", "z"))
    assert(a.count() == 16L * 8 * 4)
    assert(j.count() == a.count())
    val maxDiff = j.agg(max(abs(col("v") - col("v2")))).collect()(0).getFloat(0)
    assert(maxDiff <= 1e-4f, s"paths diverge: max |diff| = $maxDiff")
  }

  test("blocksFromElements rejects non-integral values for integer dtypes") {
    val root = Files.createTempDirectory("rgNI").toString
    val attrs = DatasetAttributes(Array(2L, 2L, 1L), Array(2, 2, 1),
      Dtype.UInt8, Compression("raw"))
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), Array(2L, 2L, 1L))
      .select(col("x"), col("y"), col("z"), lit(2.5d).as("v"))
    val ex = intercept[Exception] {
      N5.write(N5.blocksFromElements(elems, attrs), root, "v/s0", attrs)
    }
    val msg = ex.getMessage + String.valueOf(ex.getCause)
    assert(msg.contains("non-integral"), msg.take(300))
  }

  test("float32 volume round-trips bit-exactly through fragment rechunk") {
    val root = Files.createTempDirectory("rgF").toString
    val dims = Array(10L, 7L, 5L)
    val attrs = DatasetAttributes(dims, Array(4, 4, 4), Dtype.Float32,
      Compression("gzip"))
    val elems = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .withColumn("v", (sin(col("x") * 1.7) + col("y") * 0.25
        - col("z") * 3.5).cast("float"))
    N5.write(N5.blocksFromElements(elems, attrs), root, "v/s0", attrs)
    Regroup.rechunkBlocks(spark, root, "v/s0", root, "v2/s0", Array(3, 5, 2))
    val orig = N5.elements(N5.read(spark, root, "v/s0"))
    val back = N5.elements(N5.read(spark, root, "v2/s0"))
      .withColumnRenamed("v", "v2")
    val j = orig.join(back, Seq("x", "y", "z"))
    assert(j.count() == dims.product)
    assert(j.filter(col("v") =!= col("v2")).count() == 0L)
  }
}
