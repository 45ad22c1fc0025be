package graft.sources.n5

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5, N5Meta}
import org.apache.spark.sql.functions._

/** Zarr v2 read support (r14) over the checked-in golden fixture at
  * fixtures/zarr_golden — generated by tools/gen_zarr_fixture.py, an
  * INDEPENDENT writer of the public zarr v2 spec (numpy + stdlib zlib,
  * no zarr/numcodecs import), so these tests validate the engine's
  * reader against a second implementation, not against itself.
  *
  * vol:    3-D uint16 [5,7,11] C-order = engine dims x=11,y=7,z=5,
  *         chunks [2,3,4] = engine block 4,3,2; zlib; "." separator;
  *         v(z,y,x) = (1000z + 57y + 13x) mod 65536; all 27 chunks.
  * sparse: 2-D float32 [4,4], chunks [2,2], gzip, "/" separator,
  *         chunk (1,1) missing.
  */
class ZarrSpec extends SparkSpec {

  private val root = "/root/repo/fixtures/zarr_golden"

  private def v(x: Long, y: Long, z: Long): Long =
    (1000 * z + 57 * y + 13 * x) % 65536

  test("zarr metadata maps into the engine's axis order") {
    val a = N5Meta.datasetAttributes(root, "vol")
    assert(a.isZarr && a.zarrLittleEndian && a.zarrSeparator == ".")
    assert(a.dimensions.toSeq == Seq(11L, 7L, 5L), "dims must reverse to x,y,z")
    assert(a.blockSize.toSeq == Seq(4, 3, 2))
    assert(a.dataType == Dtype.UInt16)
    assert(a.compression == Compression("zlib", 6))
  }

  test("zarr block scan: all 27 chunks, edge-trimmed shapes, golden sums") {
    val blocks = N5.read(spark, root, "vol")
      .select(col("gx"), col("gy"), col("gz"),
        element_at(col("shape"), 1).as("sx"),
        element_at(col("shape"), 2).as("sy"),
        element_at(col("shape"), 3).as("sz"),
        size(col("data")).as("n"),
        aggregate(col("data"), lit(0L), (a, x) => a + x).as("sum"))
      .collect()
    assert(blocks.length == 27)
    val m = blocks.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
      (r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getLong(7))).toMap
    // generator-printed golden rows (spot set: corner, interior, all-edge)
    assert(m((0, 0, 0)) == (4, 3, 2, 24, 13836L))
    assert(m((1, 1, 1)) == (4, 3, 2, 24, 67188L))
    assert(m((2, 2, 2)) == (3, 1, 1, 3, 13377L))
    assert(blocks.map(_.getLong(7)).sum == 860860L)
    assert(blocks.map(_.getInt(6)).sum == 385)
  }

  test("zarr elements view: every voxel equals the generator formula") {
    val rows = N5.elementsScan(spark, root, "vol")
      .collect()
    assert(rows.length == 385)
    rows.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(r.getInt(3) == v(x, y, z),
        s"voxel ($x,$y,$z): ${r.getInt(3)} != ${v(x, y, z)}")
    }
  }

  test("zarr scan prunes chunk files on pushed grid predicates") {
    val pruned = N5.read(spark, root, "vol").filter(col("gx") === 0)
    assert(pruned.count() == 9) // 3 gy x 3 gz
    val box = N5.readBox(spark, root, "vol",
      Array(0L, 0L, 0L), Array(4L, 3L, 2L))
    assert(box.count() == 24)
    assert(box.agg(sum(col("v"))).head().getLong(0) == 13836L)
  }

  test("zarr round trip vs the N5 path: re-encode as N5, identical voxels") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_rt").toString
    val zarrAttrs = N5Meta.datasetAttributes(root, "vol")
    val n5Attrs = DatasetAttributes(zarrAttrs.dimensions, zarrAttrs.blockSize,
      zarrAttrs.dataType, Compression("gzip", -1))
    N5.write(N5.read(spark, root, "vol"), dir, "copy", n5Attrs)
    val back = N5Meta.datasetAttributes(dir, "copy")
    assert(!back.isZarr)
    val a = N5.elementsScan(spark, root, "vol")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    val b = N5.elementsScan(spark, dir, "copy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    assert(a == b, "zarr-read and N5-rewritten voxels must be identical")
  }

  test("sparse zarr: '/'-separated float chunks; missing chunk absent") {
    val a = N5Meta.datasetAttributes(root, "sparse")
    assert(a.isZarr && a.zarrSeparator == "/" && a.dataType == Dtype.Float32)
    val blocks = N5.read(spark, root, "sparse")
      .select(col("gx"), col("gy"),
        aggregate(col("data"), lit(0.0d), (acc, x) => acc + x).as("sum"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(blocks.keySet == Set((0, 0), (1, 0), (0, 1)),
      s"missing chunk (1,1) must be absent, got ${blocks.keySet}")
    // v(r,c) = (4r + c) * 0.5, chunk keys are C-order (row, col) ->
    // engine gx = col chunk, gy = row chunk
    assert(blocks((0, 0)) == (0 + 1 + 4 + 5) * 0.5)
    assert(blocks((1, 0)) == (2 + 3 + 6 + 7) * 0.5)
    assert(blocks((0, 1)) == (8 + 9 + 12 + 13) * 0.5)
  }

  test("unsupported zarr profiles fail loudly") {
    def withZarray(json: String)(f: String => Unit): Unit = {
      val d = java.nio.file.Files.createTempDirectory("zarr_bad")
      java.nio.file.Files.createDirectory(d.resolve("a"))
      java.nio.file.Files.write(d.resolve("a/.zarray"), json.getBytes("UTF-8"))
      f(d.toString)
    }
    val base = """"zarr_format": 2, "shape": [4], "chunks": [2],
      |"fill_value": 0, "filters": null""".stripMargin
    withZarray(s"""{$base, "dtype": "<u2", "order": "F", "compressor": null}""") { d =>
      val e = intercept[IllegalArgumentException](
        N5Meta.datasetAttributes(d, "a"))
      assert(e.getMessage.contains("order"))
    }
    withZarray(s"""{$base, "dtype": "<u2", "order": "C",
        |"compressor": {"id": "lzma"}}""".stripMargin) { d =>
      val e = intercept[IllegalArgumentException](
        N5Meta.datasetAttributes(d, "a"))
      assert(e.getMessage.contains("compressor"))
    }
    withZarray(s"""{$base, "dtype": "<c8", "order": "C", "compressor": null}""") { d =>
      val e = intercept[IllegalArgumentException](
        N5Meta.datasetAttributes(d, "a"))
      assert(e.getMessage.contains("dtype"))
    }
    // non-zero fill_value would silently corrupt missing-chunk
    // reconstruction (readBox fills zeros, elementsScan omits) — the
    // loud-profile gate must reject it (ADVICE r14); null and 0 pass
    withZarray("""{"zarr_format": 2, "shape": [4], "chunks": [2],
        |"fill_value": 5, "filters": null, "dtype": "<u2", "order": "C",
        |"compressor": null}""".stripMargin) { d =>
      val e = intercept[IllegalArgumentException](
        N5Meta.datasetAttributes(d, "a"))
      assert(e.getMessage.contains("fill_value"))
    }
    withZarray("""{"zarr_format": 2, "shape": [4], "chunks": [2],
        |"fill_value": null, "filters": null, "dtype": "<u2", "order": "C",
        |"compressor": null}""".stripMargin) { d =>
      assert(N5Meta.datasetAttributes(d, "a").isZarr) // null fill accepted
    }
    // zarr ranged upsert rejected with direction (block-table writes go
    // through N5.writeZarr since r14), not a crash in the block codec
    val e = intercept[IllegalArgumentException](
      N5.writeBox(spark, root, "vol",
        Array(0L, 0L, 0L), Array(1L, 1L, 1L),
        spark.range(1).select(lit(0L).as("x"), lit(0L).as("y"),
          lit(0L).as("z"), lit(1L).as("v"))))
    assert(e.getMessage.contains("ranged upsert"))
  }

  test("zarr WRITE: our writer round-trips through our reader and matches " +
      "the independent fixture voxel-for-voxel (r14)") {
    // deterministic location so an out-of-band numpy decode can
    // cross-validate the written chunks (tools/gen_zarr_fixture.py is the
    // independent READ check; this container is the independent WRITE
    // check's input)
    val dir = "target/zarr_write_check"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    val src = N5Meta.datasetAttributes(root, "vol")
    val outAttrs = DatasetAttributes(src.dimensions, src.blockSize,
      src.dataType, Compression("zlib", 6), format = "zarr")
    N5.writeZarr(N5.read(spark, root, "vol"), dir, "vol", outAttrs)
    val back = N5Meta.datasetAttributes(dir, "vol")
    assert(back.isZarr && back.zarrLittleEndian && back.zarrSeparator == ".")
    assert(back.dimensions.toSeq == Seq(11L, 7L, 5L))
    assert(back.blockSize.toSeq == Seq(4, 3, 2))
    assert(back.dataType == Dtype.UInt16)
    assert(back.compression == Compression("zlib", 6))
    val a = N5.elementsScan(spark, root, "vol").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    val b = N5.elementsScan(spark, dir, "vol").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    assert(a.size == 385 && a == b,
      "written zarr container must read back voxel-identical")
    // edge chunks must be FULL fill-padded payloads per the spec (the
    // trimmed-write shortcut would decode but violate zarr readers):
    // chunk (2,2,2) holds 3x1x1 live voxels in a 4x3x2 chunk
    val chunk = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/vol/2.2.2"))
    val inflater = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(chunk))
    val raw = inflater.readAllBytes(); inflater.close()
    assert(raw.length == 4 * 3 * 2 * 2,
      s"edge chunk payload must be the FULL fill-padded chunk, got ${raw.length} B")
  }

  test("zarr multiscale pyramid: levels written AS zarr, OME-NGFF " +
      "multiscales committed to .zattrs, .zgroup markers stamped (r15)") {
    import graft.n5.Multiscale
    val dir = "target/zarr_pyramid_check" // deterministic: the
    // independent tools/check_zarr_write.py validates this container too
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    val src = N5Meta.datasetAttributes(root, "vol")
    val s0Attrs = DatasetAttributes(src.dimensions, src.blockSize,
      src.dataType, Compression("zlib", 6), format = "zarr")
    N5.writeZarr(N5.read(spark, root, "vol"), dir, "pyr/s0", s0Attrs)
    val levels = Multiscale.buildPyramid(spark, dir, "pyr",
      factors = Array(2, 2, 2), maxLevels = 1, thumbnailSize = 2)
    assert(levels.length == 1)
    // the derived level must BE a zarr dataset (format dispatch in
    // N5.write), with dims floor(11,7,5 / 2) = 5,3,2
    val s1 = N5Meta.datasetAttributes(dir, "pyr/s1")
    assert(s1.isZarr, "pyramid level over a zarr store must write zarr")
    assert(s1.dimensions.toSeq == Seq(5L, 3L, 2L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/pyr/s1/.zarray")))
    // voxels: trimmed windowed mean with integer truncation
    val got = N5.elementsScan(spark, dir, "pyr/s1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    assert(got.size == 5 * 3 * 2)
    got.foreach { case ((x, y, z), vv) =>
      var sum = 0L
      for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1)
        sum += v(2 * x + dx, 2 * y + dy, 2 * z + dz)
      assert(vv == sum / 8, s"s1 voxel ($x,$y,$z): $vv != ${sum / 8}")
    }
    // downsamplingFactors round-trips through .zattrs (not .zarray)
    assert(s1.extra.get("downsamplingFactors").contains("[2,2,2]"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/pyr/s1/.zattrs")))
    // group metadata: .zgroup at root and group, OME-NGFF multiscales
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/.zgroup")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/pyr/.zgroup")))
    val zattrs = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/pyr/.zattrs")), "UTF-8")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(zattrs)
    val ms = m.get("multiscales")
    assert(ms != null && ms.isArray && ms.size() == 1, s"multiscales: $zattrs")
    val e0 = ms.get(0)
    assert(e0.get("version").asText() == "0.4")
    // axes in the ARRAY's C order = engine axes reversed
    assert((0 until 3).map(i => e0.get("axes").get(i).get("name").asText())
      == Seq("z", "y", "x"))
    val ds = e0.get("datasets")
    assert(ds.size() == 2)
    assert(ds.get(0).get("path").asText() == "s0")
    assert(ds.get(1).get("path").asText() == "s1")
    val sc1 = ds.get(1).get("coordinateTransformations").get(0)
    assert(sc1.get("type").asText() == "scale")
    assert((0 until 3).map(i => sc1.get("scale").get(i).asDouble())
      == Seq(2.0, 2.0, 2.0))
    // the NGFF-described level must also read back through a plain scan
    assert(N5.read(spark, dir, "pyr/s1").count() == 2) // 2 blocks: 4,3,2 grid over 5,3,2
  }

  test("zarr WRITE: '/' separator + float32 + raw compressor round-trips; " +
      "unsupported write codec fails loudly (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_wr2").toString
    val attrs = DatasetAttributes(Array(5L, 3L, 2L), Array(2, 2, 2),
      Dtype.Float32, Compression("raw"), format = "zarr",
      zarrSeparator = "/")
    import spark.implicits._
    // one interior + one all-edge chunk worth of data via blocksFromElements
    val elems = spark.range(30).select(
      (col("id") % 5).as("x"), ((col("id") / 5) % 3).as("y"),
      (col("id") / 15).as("z"),
      (col("id").cast("double") * 0.5).cast("float").as("v"))
    N5.writeZarr(N5.blocksFromElements(elems, attrs), dir, "f", attrs, separator = "/")
    val back = N5Meta.datasetAttributes(dir, "f")
    assert(back.isZarr && back.zarrSeparator == "/" &&
      back.dataType == Dtype.Float32)
    val got = N5.elementsScan(spark, dir, "f").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getFloat(3)).toMap
    assert(got.size == 30)
    got.foreach { case ((x, y, z), v) =>
      assert(v == ((x + 5 * y + 15 * z) * 0.5).toFloat, s"($x,$y,$z)=$v")
    }
    // '/'-separated keys are nested reversed: chunk (gx=1, gy=0, gz=0) -> 0/0/1
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/f/0/0/1")))
    // unsupported write codec is loud (zstd is read-profile only for zarr)
    val badAttrs = DatasetAttributes(Array(2L, 2L, 2L), Array(2, 2, 2),
      Dtype.UInt8, Compression("zstd", 3), format = "zarr")
    val e = intercept[Exception] {
      N5.writeZarr(N5.blocksFromElements(
        spark.range(8).select((col("id") % 2).as("x"),
          ((col("id") / 2) % 2).as("y"), (col("id") / 4).as("z"),
          lit(1L).as("v")), badAttrs), dir, "bad", badAttrs)
    }
    assert(String.valueOf(e.getMessage).contains("unsupported") ||
      String.valueOf(e.getCause).contains("unsupported"))
  }

  test("foreign OME-NGFF pyramid: readGroup discovers renamed levels " +
      "through .zattrs multiscales (r16, VERDICT r15 #7)") {
    // fixtures/zarr_golden/ngff is written by tools/gen_ngff_fixture.py —
    // an INDEPENDENT stdlib implementation of zarr v2 + NGFF 0.4 whose
    // level datasets are named "0"/"1" (the ome-zarr convention), so the
    // c*/s* directory scan finds nothing and discovery must go through
    // the multiscales metadata; level = declared position
    val g = graft.n5.N5.readGroup(spark, s"$root/ngff", "pyr")
    import org.apache.spark.sql.functions._
    val stats = g.select(col("level"), col("channel"),
        explode(col("data")).as("v"))
      .groupBy(col("level"), col("channel"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // goldens printed by the generator: level 0 n=192 sum=163584,
    // level 1 (independent 2x2x2 floor-mean) n=24 sum=20448
    assert(stats.keySet == Set((0, 0), (1, 0)),
      s"expected NGFF levels 0 and 1 on channel 0, got ${stats.keySet}")
    assert(stats((0, 0)) == ((192L, 163584L)),
      s"level 0 golden mismatch: ${stats((0, 0))}")
    assert(stats((1, 0)) == ((24L, 20448L)),
      s"level 1 golden mismatch: ${stats((1, 0))}")
    // a group with neither s* datasets nor multiscales stays loud
    val tmp = java.nio.file.Files.createTempDirectory("ngff_empty")
    java.nio.file.Files.createDirectories(tmp.resolve("g/whatever"))
    val err = intercept[IllegalArgumentException] {
      graft.n5.N5.readGroup(spark, tmp.toString, "g")
    }
    assert(err.getMessage.contains("NGFF"),
      s"loud no-discovery message must name the NGFF fallback: $err")
  }

  test("rechunk keeps a big-endian zarr v2 dataset big-endian") {
    val dir = java.nio.file.Files.createTempDirectory("zarrbe").toString
    val dims = Array(12L, 10L, 6L)
    val elems = N5.boxGrid(spark, Array(0L, 0L, 0L), dims)
      .select(col("x"), col("y"), col("z"),
        ((col("x") * 1000 + col("y") * 77 + col("z") * 5001) % 65536).cast("int").as("v"))
    val attrs = DatasetAttributes(dims, Array(4, 4, 3), Dtype.UInt16, Compression("zlib", 6))
    N5.blocksFromElements(elems, attrs)
      .write.format("n5").option("dataset", "be").option("format", "zarr")
      .option("zarrLittleEndian", "false")
      .option("dimensions", dims.mkString(",")).option("blockSize", "4,4,3")
      .option("dataType", "uint16").option("compression", "zlib")
      .mode("append").save(dir)
    def zarrDtype(ds: String): String = {
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, ds, ".zarray")))
      "\"dtype\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(json).map(_.group(1)).get
    }
    assert(zarrDtype("be") == ">u2")
    N5.rechunk(spark, dir, "be", dir, "r", Array(8, 8, 4))
    assert(zarrDtype("r") == ">u2", "rechunk must keep the declared byte order")
    def voxels(ds: String) = N5.elementsScan(spark, dir, ds).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    val expected = voxels("be")
    assert(expected.size == dims.product)
    assert(voxels("r") == expected)
  }
}
