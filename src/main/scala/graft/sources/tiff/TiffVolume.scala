package graft.sources.tiff

import graft.n5.{Compression, DatasetAttributes, Dtype, N5, N5Meta}
import graft.sources.HadoopFs
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** N5 volume <-> 2-D TIFF slice series, the reference's ingest/export pair
  * (`tif_to_n5.py:15-60`, `n5_to_tif.py:32-51`), Spark-native:
  *
  * Export: element view → regroup by z (one shuffle) → each task encodes
  * and writes its slices directly (data never returns to the driver — same
  * worker-writes discipline as Dask's `store(lock=False)`).
  *
  * Ingest: `binaryFile` scan (one task per slice file) → executor-side
  * decode → element view → block regroup → N5 DSv2 writer. The slab loop
  * of `tif_to_n5.py:53-58` becomes ordinary bounded partitions.
  */
object TiffVolume {

  /** Write one encoded slice file (executor-side). */
  private def writePage(
      outDir: String, prefix: String, z: Int,
      w: Int, h: Int, px: Array[Int], bits: Int): Unit = {
    val bytes = TiffIO.encode(w, h, px, bits)
    val p = new HPath(outDir, f"$prefix$z%05d.tif")
    val fs = HadoopFs.fs(p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Export every z-slice of a dataset as `prefix%05d.tif` under outDir.
    * Sparse volumes export densely (zarr fill-value parity): voxels of
    * absent blocks come out as zeros, and fully-absent z-slabs still
    * produce (all-zero) slice files — the series never has numbering
    * gaps. Returns the number of slices written (= the volume depth).
    *
    * Scale formulation: one PLANE FRAGMENT row per (block, local z) —
    * primitive pixel arrays, not per-voxel struct rows — shuffled to a
    * per-z assembly that pastes fragments into the page and writes it in
    * the same task. Peak memory per task is one w×h page, the floor any
    * whole-page TIFF encoder needs. Signed dtypes with negative voxels
    * fail loudly (the unsigned TIFF sample would silently wrap them).
    */
  def exportSlices(
      spark: SparkSession, root: String, dataset: String,
      outDir: String, prefix: String = "slice_"): Int = {
    val attrs = N5Meta.datasetAttributes(root, dataset)
    val Array(w, h, depth) = attrs.dimensions.map(_.toInt)
    val bits = attrs.dataType match {
      case Dtype.UInt8 | Dtype.Int8 => 8
      case Dtype.UInt16 | Dtype.Int16 => 16
      case d => throw new IllegalArgumentException(
        s"TIFF export supports 8/16-bit integer volumes, got ${d.name}")
    }
    val limit = (1 << bits) - 1
    import spark.implicits._
    val typed = N5.read(spark, root, dataset)
      .select(col("x0"), col("y0"), col("z0"), col("shape"),
        col("data").cast("array<bigint>"))
      .as[(Long, Long, Long, Array[Int], Array[Long])]
    val frags = typed.flatMap { case (x0, y0, z0, shape, data) =>
      val Array(sx, sy, sz) = shape
      (0 until sz).iterator.map { lz =>
        val plane = new Array[Int](sx * sy)
        val base = lz * sx * sy
        var i = 0
        while (i < sx * sy) {
          val v = data(base + i)
          require(v >= 0 && v <= limit,
            s"safe cast violation: voxel $v outside [0, $limit] for $bits-bit TIFF")
          plane(i) = v.toInt
          i += 1
        }
        (z0 + lz, x0.toInt, y0.toInt, sx, sy, plane)
      }
    }
    val written = frags.groupByKey(_._1)
      .mapGroups { (z, it) =>
        val px = new Array[Int](w * h)
        it.foreach { case (_, fx0, fy0, sx, sy, plane) =>
          var row = 0
          while (row < sy) {
            System.arraycopy(plane, row * sx, px, fx0 + (fy0 + row) * w, sx)
            row += 1
          }
        }
        writePage(outDir, prefix, z.toInt, w, h, px, bits)
        z
      }
    // fully-absent z-slabs still produce (all-zero) files; the written-z
    // set stays distributed (an anti-join against the dense z range —
    // collecting it was a depth-sized driver set), and page writes are
    // idempotent overwrites, so a re-executed branch is harmless
    spark.range(depth).select(col("id").as("z"))
      .join(written.toDF("z"), Seq("z"), "left_anti")
      .as[Long]
      .foreach(z =>
        writePage(outDir, prefix, z.toInt, w, h, new Array[Int](w * h), bits))
    depth
  }

  /** Export one sub-box [start,end) as a single multi-page TIFF (one page
    * per z) — reference `n5_block_to_tif` (`n5_to_tif.py:20-29`), with the
    * same safe-cast discipline: an 8-bit target errors if any voxel
    * overflows (ANSI cast), mirroring numpy `casting='safe'`.
    */
  def exportBox(
      spark: SparkSession, root: String, dataset: String, outFile: String,
      start: Array[Long], end: Array[Long], bitsOverride: Int = 0): Unit = {
    val attrs = N5Meta.datasetAttributes(root, dataset)
    val bits = if (bitsOverride > 0) bitsOverride else attrs.dataType match {
      case Dtype.UInt8 | Dtype.Int8 => 8
      case _ => 16
    }
    val limit = (1 << bits) - 1
    val (w, h) = ((end(0) - start(0)).toInt, (end(1) - start(1)).toInt)
    // the collect below is bounded by the REQUESTED box (this entry point
    // produces one driver-assembled TIFF file by contract — the
    // whole-volume path is exportSlices, which writes from tasks)
    val pages = N5.readBox(spark, root, dataset, start, end)
      .select(col("z"),
        ((col("x") - start(0)) + (col("y") - start(1)) * w).cast("int").as("idx"),
        // reject non-integral float voxels (numpy casting='safe' refuses
        // float->int; ANSI cast would truncate 3.7 -> 3 silently)
        N5.integralOrRaise(col("v"), "exportBox").cast("int").as("v"))
      .groupBy(col("z"))
      .agg(array_sort(collect_list(struct(col("idx"), col("v")))).as("cells"))
      .orderBy(col("z"))
      .select(transform(col("cells"), c => c.getField("v")).as("px"))
      .collect()
    val imgs = pages.map { r =>
      val px = r.getSeq[Int](0).toArray
      require(px.forall(v => v >= 0 && v <= limit),
        s"safe cast violation: voxel outside [0, $limit] for $bits-bit TIFF")
      TiffIO.buildImage(w, h, px, bits)
    }
    val p = new HPath(outFile)
    val fs = HadoopFs.fs(p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    imgs.foreach(i =>
      writer.writeToSequence(new javax.imageio.IIOImage(i, null, null), null))
    writer.endWriteSequence()
    ios.close()
    out.close()
  }

  /** The ranked (z, content) slice relation shared by the ingest paths:
    * z COORDINATE = rank in numeric order with path tiebreak (glob-sort
    * semantics, `tif_to_n5.py:21`) — 1-based or gappy numbering ingests
    * densely.
    *
    * The manifest stays a DATAFRAME end to end (r11 VERDICT: the old
    * driver-side `collect()` of every (path, z) pair made a multi-
    * million-file series a driver memory bottleneck): the skinny
    * (path, zraw) listing — content column never touched — is ranked by
    * a range-partitioned distributed sort + `zipWithIndex` (one tiny
    * partition-count job; no global single-task window, no driver
    * materialization), and each task then OPENS its ranked files
    * directly (the reference's executor-side open-per-task discipline,
    * `ometif_to_n5.py:174-182`) — so slice content is never shuffled
    * and never joined: it flows scan → decode inside one task. The only
    * driver-resident manifest data are the ≤3 example paths of a
    * validation failure.
    */
  private def rankedSlices(
      spark: SparkSession, inDir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // numeric sort key: digit run right before .tif; files without one
    // are rejected rather than silently mis-placed (an empty extract
    // must become null explicitly — ANSI CAST('' AS BIGINT) throws an
    // opaque error before the curated require below could fire)
    val order = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tif")
      .load(inDir)
      .select(col("path"), {
        val digits = regexp_extract(col("path"), "(\\d+)\\.tif$", 1)
        when(length(digits) === 0, lit(null)).otherwise(digits.cast("long"))
      }.as("zraw"))
    val bad = order.filter(col("zraw").isNull).select(col("path")).take(3)
    require(bad.isEmpty,
      s"$inDir contains .tif files without a numeric suffix: " +
        bad.map(_.getString(0)).mkString(", "))
    require(!order.isEmpty, s"no .tif files found in $inDir")
    val ranked = order.sort(col("zraw").asc, col("path").asc)
      .select(col("path")).as[String].rdd
      .zipWithIndex().toDF("path", "z")
    ranked.select(col("z"), col("path")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (z, p) =>
          val hp = new HPath(p)
          val fs = HadoopFs.fs(hp)
          val in = fs.open(hp)
          val bytes =
            try in.readAllBytes()
            finally in.close()
          (z, bytes)
        }
      }.toDF("z", "content")
  }

  /** Ingest a directory of grayscale TIFF slices (z order = numeric order
    * of the last integer in each file name) into an N5 dataset.
    */
  def ingestSlices(
      spark: SparkSession, inDir: String,
      dstRoot: String, dstDataset: String,
      blockSize: Array[Int],
      dtype: Dtype = Dtype.UInt8,
      compression: Compression = Compression("gzip")): DatasetAttributes = {
    import spark.implicits._
    val (loVal, hiVal) =
      dtype.integerRange.getOrElse((Long.MinValue, Long.MaxValue))
    val decoded = rankedSlices(spark, inDir).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (z, bytes) =>
        val s = TiffIO.decode(bytes)
        (z, s.width, s.height, s.pixels)
      }).toDF("z", "w", "h", "px")
      // three actions follow (geometry agg, size check, write): cache the
      // decoded slices instead of re-reading + re-decoding every TIFF
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val Row(w: Int, h: Int, nz: Long) = decoded
        .agg(max(col("w")), max(col("h")), count(lit(1))).collect()(0)
      val bad = decoded.filter(col("w") =!= w || col("h") =!= h).count()
      require(bad == 0, s"$bad slices differ from the ${w}x$h plane size")
      val attrs = DatasetAttributes(
        Array(w.toLong, h.toLong, nz), blockSize, dtype, compression)
      // fragment path: shuffle rows are (slice ∩ block-column) rectangles,
      // not pixels — same bytes, ~blockSize² fewer rows
      val slices = decoded.select(col("z"), col("px").cast("array<bigint>"))
        .as[(Long, Array[Long])]
        .map { case (z, px) =>
          // safe cast (numpy casting='safe' analogue): fail, don't wrap
          require(px.forall(v => v >= loVal && v <= hiVal),
            s"slice $z has values outside ${dtype.name} range [$loVal, $hiVal]")
          (z, px)
        }
      graft.n5.Regroup.writeAssembled(
        graft.n5.Regroup.slicesToBlocks(slices, attrs),
        dstRoot, dstDataset, attrs)
      attrs
    } finally decoded.unpersist()
  }

  /** Ingest an RGB / multi-band TIFF slice series into PER-CHANNEL N5
    * datasets `c{b}/<dstDataset>` — the reference's channel-as-sibling-
    * group layout (`ometif_to_n5.py:111-116`) applied to plain multi-band
    * TIFFs (tifffile reads these transparently at `tif_to_n5.py:21`;
    * grayscale-only ingest was the first wall a user with RGB microscopy
    * slices hit). Returns (channel count, per-channel attrs).
    */
  def ingestSlicesPerChannel(
      spark: SparkSession, inDir: String,
      dstRoot: String, dstDataset: String,
      blockSize: Array[Int],
      dtype: Dtype = Dtype.UInt8,
      compression: Compression = Compression("gzip")): (Int, DatasetAttributes) = {
    import spark.implicits._
    val (loVal, hiVal) =
      dtype.integerRange.getOrElse((Long.MinValue, Long.MaxValue))
    val decoded = rankedSlices(spark, inDir).as[(Long, Array[Byte])]
      .flatMap { case (z, bytes) =>
        TiffIO.decodeBands(bytes).zipWithIndex.map { case (s, b) =>
          (z, b, s.width, s.height, s.pixels)
        }
      }.toDF("z", "band", "w", "h", "px")
      // one decode per file feeds every channel's write (plus the
      // geometry checks) — cache instead of re-decoding per channel
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val Row(w: Int, h: Int, bands: Int, nz: Long, rows: Long) = decoded
        .agg(max(col("w")), max(col("h")), max(col("band")).cast("int") + 1,
          countDistinct(col("z")), count(lit(1))).collect()(0)
      val bad = decoded.filter(col("w") =!= w || col("h") =!= h).count()
      require(bad == 0, s"$bad bands differ from the ${w}x$h plane size")
      require(rows == nz * bands,
        s"ragged band counts: $rows (z, band) planes from $nz slices × $bands bands")
      val attrs = DatasetAttributes(
        Array(w.toLong, h.toLong, nz), blockSize, dtype, compression)
      for (b <- 0 until bands) {
        val slices = decoded.filter(col("band") === b)
          .select(col("z"), col("px").cast("array<bigint>"))
          .as[(Long, Array[Long])]
          .map { case (z, px) =>
            require(px.forall(v => v >= loVal && v <= hiVal),
              s"slice $z has values outside ${dtype.name} range [$loVal, $hiVal]")
            (z, px)
          }
        graft.n5.Regroup.writeAssembled(
          graft.n5.Regroup.slicesToBlocks(slices, attrs),
          dstRoot, s"c$b/$dstDataset", attrs)
      }
      (bands, attrs)
    } finally decoded.unpersist()
  }
}
