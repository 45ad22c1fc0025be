package graft.n5

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.sources.tiff.{TiffIO, TiffVolume}
import org.apache.spark.sql.functions._

/** The reference's own end-to-end smoke test (`README.md:17-23`):
  * N5 → 2-D TIFF series → re-ingested N5 (re-chunked, gzip) → multiscale.
  * Voxel-level equality all the way through.
  */
class RoundTripSpec extends SparkSpec {

  private val fixtureRoot = "/root/reference/data/test.n5"
  private val fixtureDs = "mri/c0/s0"

  test("tiff codec round-trips 8- and 16-bit slices") {
    val rng = new scala.util.Random(7)
    for (bits <- Seq(8, 16)) {
      val w = 33; val h = 21
      val px = Array.fill(w * h)(rng.nextInt(if (bits == 8) 256 else 65536))
      val s = TiffIO.decode(TiffIO.encode(w, h, px, bits))
      assert(s.width == w && s.height == h)
      assert(s.pixels.toSeq == px.toSeq, s"$bits-bit")
    }
  }

  test("README round trip: N5 -> TIFF series -> N5 (64^3 gzip) -> multiscale") {
    val tmp = Files.createTempDirectory("n5tif").toString
    // 1. export all 27 z-slices
    val n = TiffVolume.exportSlices(spark, fixtureRoot, fixtureDs, s"$tmp/tif")
    assert(n == 27)
    // (Hadoop local FS also writes .crc sidecars; count only the slices)
    assert(Files.list(Paths.get(s"$tmp/tif"))
      .filter(_.toString.endsWith(".tif")).count() == 27)

    // 2. re-ingest re-chunked
    val attrs = TiffVolume.ingestSlices(spark, s"$tmp/tif",
      s"$tmp/out.n5", "vol/s0", Array(64, 64, 64))
    assert(attrs.dimensions.toSeq == Seq(186L, 226L, 27L))

    // 3. voxel equality against the original
    val orig = N5.elements(N5.read(spark, fixtureRoot, fixtureDs))
      .select(col("x"), col("y"), col("z"), col("v").cast("long").as("v"))
    val rt = N5.elements(N5.read(spark, s"$tmp/out.n5", "vol/s0"))
      .select(col("x"), col("y"), col("z"), col("v").cast("long").as("v2"))
    assert(rt.count() == 1134972L)
    val joined = orig.join(rt, Seq("x", "y", "z"))
    assert(joined.count() == 1134972L)
    assert(joined.filter(col("v") =!= col("v2")).count() == 0L)

    // 4. multiscale levels on the re-ingested volume
    val levels = Multiscale.buildPyramid(spark, s"$tmp/out.n5", "vol",
      maxLevels = 2)
    assert(levels.length == 2)
    assert(levels(0).dimensions.toSeq == Seq(93L, 113L, 13L))
    assert(levels(1).dimensions.toSeq == Seq(46L, 56L, 6L))
  }

  test("ingest accepts 1-based / gappy slice numbering (rank, not value)") {
    val tmp = Files.createTempDirectory("rank").toString
    // three 4x3 slices numbered 1, 2, 10 — z coordinates must be 0,1,2
    for ((n, v) <- Seq((1, 10), (2, 20), (10, 30))) {
      val bytes = graft.sources.tiff.TiffIO.encode(4, 3,
        Array.fill(12)(v), 8)
      Files.write(java.nio.file.Paths.get(tmp, f"s_$n%05d.tif"), bytes)
    }
    val attrs = TiffVolume.ingestSlices(spark, tmp, s"$tmp/o.n5", "v/s0",
      Array(4, 3, 2))
    assert(attrs.dimensions.toSeq == Seq(4L, 3L, 3L))
    val byZ = N5.elements(N5.read(spark, s"$tmp/o.n5", "v/s0"))
      .groupBy(col("z")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getShort(1), r.getShort(2))).toMap
    assert(byZ == Map(0L -> (10, 10), 1L -> (20, 20), 2L -> (30, 30)))
  }

  test("ingest rejects mixed slice sizes and out-of-range values") {
    val tmp = Files.createTempDirectory("badsz").toString
    Files.write(java.nio.file.Paths.get(tmp, "s_00000.tif"),
      graft.sources.tiff.TiffIO.encode(4, 3, Array.fill(12)(1), 8))
    Files.write(java.nio.file.Paths.get(tmp, "s_00001.tif"),
      graft.sources.tiff.TiffIO.encode(2, 2, Array.fill(4)(1), 8))
    val ex = intercept[IllegalArgumentException] {
      TiffVolume.ingestSlices(spark, tmp, s"$tmp/o.n5", "v/s0", Array(4, 3, 2))
    }
    assert(ex.getMessage.contains("differ"))

    val tmp2 = Files.createTempDirectory("badrange").toString
    Files.write(java.nio.file.Paths.get(tmp2, "s_00000.tif"),
      graft.sources.tiff.TiffIO.encode(2, 2, Array(0, 1, 300, 2), 16))
    val ex2 = intercept[Exception] {
      TiffVolume.ingestSlices(spark, tmp2, s"$tmp2/o.n5", "v/s0",
        Array(2, 2, 1)) // default uint8: 300 must fail the safe cast
    }
    assert(ex2.getMessage.contains("range") ||
      ex2.getCause != null && ex2.getCause.getMessage.contains("range"))
  }

  test("min/max downsample equals independent loops on both code paths") {
    import spark.implicits._
    val dims = Array(12L, 10L, 6L)
    def v(x: Long, y: Long, z: Long): Long = (3 * x + 5 * y + 7 * z) % 97
    val elems = spark.range(dims.product)
      .select((col("id") % dims(0)).as("x"),
        ((col("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (col("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .select(col("x"), col("y"), col("z"),
        ((col("x") * 3 + col("y") * 5 + col("z") * 7) % 97)
          .cast("int").as("v"))
    // independent expectation: plain loops over the 2x2x2 windows
    val (ox, oy, oz) = (6, 5, 3)
    def extreme(isMin: Boolean): Map[(Int, Int, Int), Long] =
      (for (z <- 0 until oz; y <- 0 until oy; x <- 0 until ox) yield {
        val vals = for (dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2)
          yield v(2 * x + dx, 2 * y + dy, 2 * z + dz)
        ((x, y, z), if (isMin) vals.min else vals.max)
      }).toMap
    // block-local path (4,4,2 divisible by 2) and element path (5,3,3 not)
    for ((bs, label) <- Seq(Array(4, 4, 2) -> "block-local",
        Array(5, 3, 3) -> "element")) {
      val root = Files.createTempDirectory("n5minmax").toString + "/t.n5"
      val attrs = DatasetAttributes(dims, bs, Dtype.UInt16, Compression("gzip"))
      N5.write(N5.blocksFromElements(elems, attrs), root, "vol/s0", attrs)
      for (method <- Seq("min", "max")) {
        Multiscale.downsampleLevel(spark, root, "vol", 1, Array(2, 2, 2), method)
        val got = N5.elements(N5.read(spark, root, "vol/s1"))
          .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt,
            r.getLong(2).toInt), r.getAs[Number](3).longValue())).toMap
        val want = extreme(method == "min")
        assert(got.size == want.size, s"$label/$method cardinality")
        assert(got == want, s"$label/$method diverges from the loop expectation")
        // clean between methods: both write vol/s1
        val s1 = java.nio.file.Paths.get(root, "vol", "s1")
        Files.walk(s1).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
    }
  }

  test("float min/max downsample propagates NaN identically on both paths") {
    import spark.implicits._
    val dims = Array(4L, 4L, 2L)
    // one NaN voxel at (0,0,0): window (0,0,0) must yield NaN from BOTH
    // kernels (numpy reducer semantics); every other window is NaN-free
    val elems = spark.range(dims.product)
      .select((col("id") % 4).as("x"), ((col("id") / 4) % 4).as("y"),
        (col("id") / 16).as("z"))
      .select(col("x"), col("y"), col("z"),
        when(col("x") === 0 && col("y") === 0 && col("z") === 0,
          lit(Float.NaN))
          .otherwise((col("x") + col("y") * 2 + col("z") * 3).cast("float"))
          .as("v"))
    for ((bs, label) <- Seq(Array(2, 2, 2) -> "block-local",
        Array(3, 3, 1) -> "element"); method <- Seq("min", "max")) {
      val root = Files.createTempDirectory("n5nan").toString + "/t.n5"
      val attrs = DatasetAttributes(dims, bs, Dtype.Float32, Compression("gzip"))
      N5.write(N5.blocksFromElements(elems, attrs),
        root, "vol/s0", attrs)
      Multiscale.downsampleLevel(spark, root, "vol", 1, Array(2, 2, 2), method)
      val got = N5.elements(N5.read(spark, root, "vol/s1"))
        .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          r.getFloat(3))).toMap
      assert(got.size == 4, s"$label/$method cardinality")
      assert(got((0L, 0L, 0L)).isNaN,
        s"$label/$method: NaN window must yield NaN")
      assert(got.filterNot(_._1 == (0L, 0L, 0L)).values.forall(!_.isNaN),
        s"$label/$method: NaN leaked into clean windows")
    }
  }

  test("multiscale s1 equals an independently computed windowed mean") {
    val tmp = Files.createTempDirectory("n5ms").toString
    // materialize the fixture as group vol/s0 (same chunking)
    N5.rechunk(spark, fixtureRoot, fixtureDs, tmp, "vol/s0", Array(128, 128, 128))
    Multiscale.downsampleLevel(spark, tmp, "vol", 1, Array(2, 2, 2))

    // independent expectation: decode the fixture into one dense array and
    // compute the trimmed 2x2x2 windowed mean with plain loops
    val a = N5Meta.datasetAttributes(fixtureRoot, fixtureDs)
    val Array(dx, dy, dz) = a.dimensions.map(_.toInt)
    val dense = new Array[Int](dx * dy * dz)
    for (g <- a.gridPositions) {
      val raw = java.nio.file.Files.readAllBytes(
        Paths.get(fixtureRoot, fixtureDs, g.mkString("/")))
      val dec = BlockCodec.decode(raw, a.dataType, a.compression)
      val Array(sx, sy, _) = dec.shape
      val x0 = g(0) * 128; val y0 = g(1) * 128; val z0 = g(2) * 128
      var i = 0
      while (i < dec.numElements) {
        val x = x0 + i % sx
        val y = y0 + (i / sx) % sy
        val z = z0 + i / (sx * sy)
        dense(x + y * dx + z * dx * dy) = dec.longs(i).toInt
        i += 1
      }
    }
    val (ox, oy, oz) = (dx / 2, dy / 2, dz / 2)
    var expectedSum = 0L
    val expected = new Array[Long](ox * oy * oz)
    for (z <- 0 until oz; y <- 0 until oy; x <- 0 until ox) {
      var s = 0L
      for (dzz <- 0 until 2; dyy <- 0 until 2; dxx <- 0 until 2)
        s += dense((2 * x + dxx) + (2 * y + dyy) * dx + (2 * z + dzz) * dx * dy)
      val m = (s.toDouble / 8.0).toLong // truncation, numpy astype semantics
      expected(x + y * ox + z * ox * oy) = m
      expectedSum += m
    }

    val s1 = N5.elements(N5.read(spark, tmp, "vol/s1"))
    val r = s1.agg(count(lit(1)), sum(col("v").cast("long"))).collect()(0)
    assert(r.getLong(0) == ox.toLong * oy * oz)
    assert(r.getLong(1) == expectedSum)
    // spot-check individual voxels
    val sample = s1.filter(col("x") < 4 && col("y") < 4 && col("z") < 2)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getAs[Number](3).longValue()))
    sample.foreach { case (x, y, z, v) =>
      assert(v == expected((x + y * ox + z * ox * oy).toInt), s"voxel ($x,$y,$z)")
    }
  }

  test("mode downsample picks the most frequent label, ties to lowest") {
    import org.apache.spark.sql.functions.{col => c}
    val tmp = Files.createTempDirectory("n5mode").toString
    val dims = Array(8L, 6L, 4L)
    val attrs = DatasetAttributes(dims, Array(4, 4, 4), Dtype.UInt8,
      Compression("gzip"))
    // label(x,y,z) = deterministic small-id pattern with in-window repeats
    def label(x: Long, y: Long, z: Long): Long = (x / 2 + y + z) % 5
    val elems = spark.range(dims.product)
      .select((c("id") % dims(0)).as("x"),
        ((c("id") / dims(0)) % dims(1)).cast("long").as("y"),
        (c("id") / (dims(0) * dims(1))).cast("long").as("z"))
      .select(c("x"), c("y"), c("z"),
        ((c("x") / 2).cast("long") + c("y") + c("z")).mod(5).as("v"))
    N5.write(N5.blocksFromElements(elems, attrs), tmp, "lbl/s0", attrs)

    val dst = Multiscale.downsampleLevelMode(spark, tmp, "lbl", 1, Array(2, 2, 2))
    assert(dst.dimensions.toSeq == Seq(4L, 3L, 2L))

    // independent expectation: loop-counted mode with lowest-label ties
    val asMap = N5.elements(N5.read(spark, tmp, "lbl/s1")).collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getAs[Number](3).longValue())).toMap
    for (z <- 0L until 2L; y <- 0L until 3L; x <- 0L until 4L) {
      val counts = (for {
        dz <- 0 until 2; dy <- 0 until 2; dx <- 0 until 2
      } yield label(2 * x + dx, 2 * y + dy, 2 * z + dz))
        .groupBy(identity).view.mapValues(_.size)
      val mode = counts.toSeq.minBy { case (v, n) => (-n, v) }._1
      assert(asMap((x, y, z)) == mode, s"window ($x,$y,$z): $counts")
    }

    // float volumes are rejected
    val fAttrs = attrs.copy(dataType = Dtype.Float32)
    N5.write(N5.blocksFromElements(
      elems.select(c("x"), c("y"), c("z"), c("v").cast("double").as("v")),
      fAttrs), tmp, "flt/s0", fAttrs)
    val e = intercept[IllegalArgumentException](
      Multiscale.downsampleLevelMode(spark, tmp, "flt", 1, Array(2, 2, 2)))
    assert(e.getMessage.contains("label volumes"))
  }

  test("pyramid metadata matches the reference checkpoint format") {
    val tmp = Files.createTempDirectory("n5meta").toString
    N5.rechunk(spark, fixtureRoot, fixtureDs, tmp, "vol/s0", Array(128, 128, 128))
    Multiscale.buildPyramid(spark, tmp, "vol", maxLevels = 2)

    // per-level dataset attrs: absolute integer downsamplingFactors f^level
    // and pixelResolution propagated from s0 (n5_multiscale.py:121-128)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val s0 = N5Meta.datasetAttributes(tmp, "vol/s0")
    for (level <- 1 to 2) {
      val a = N5Meta.datasetAttributes(tmp, s"vol/s$level")
      val f = mapper.readTree(a.extra("downsamplingFactors"))
      assert((0 until 3).forall(i => f.get(i).isIntegralNumber),
        s"s$level downsamplingFactors must be integers: $f")
      val want = math.pow(2, level).toLong
      assert((0 until 3).forall(i => f.get(i).asLong() == want),
        s"s$level downsamplingFactors: $f")
      assert(a.extra.get("pixelResolution") == s0.extra.get("pixelResolution"),
        s"s$level pixelResolution must be propagated from s0")
      // effective resolution (R8 precedence) scales by f^level
      val (res0, _) = N5Meta.pixelResolution(s0)
      val (res, _) = N5Meta.pixelResolution(a)
      assert(res.toSeq == res0.map(_ * want).toSeq,
        s"s$level effective resolution ${res.toSeq} != ${res0.map(_ * want).toSeq}")
    }

    // group attrs: scales as integer lists incl. s0, plus axes; no
    // group-level downsamplingFactors (n5_multiscale.py:133)
    val g = N5Meta.readJson(new org.apache.hadoop.fs.Path(tmp, "vol/attributes.json"))
    val scales = g.get("scales")
    assert(scales != null && scales.size() == 3, s"scales: $scales")
    for (k <- 0 until 3; i <- 0 until 3) {
      assert(scales.get(k).get(i).isIntegralNumber, s"scales[$k][$i] not int")
      assert(scales.get(k).get(i).asLong() == math.pow(2, k).toLong)
    }
    val axes = g.get("axes")
    assert(axes != null && (0 until 3).map(axes.get(_).asText()) == Seq("x", "y", "z"))
    assert(!g.has("downsamplingFactors"),
      "group must not carry a base-factor downsamplingFactors attribute")
  }
}
