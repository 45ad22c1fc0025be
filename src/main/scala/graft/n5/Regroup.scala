package graft.n5

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Block-fragment regroup: the scale-safe rechunk (SURVEY §7 "hard parts").
  *
  * The element-explode formulation shuffles one ROW PER VOXEL — O(10¹¹)
  * rows for a 100 TB volume, dominated by per-row shuffle/sort overhead.
  * This formulation slices each source block into the ≤8 (typically)
  * fragments that intersect output blocks and shuffles one row per
  * FRAGMENT: the same bytes move, but row count drops by ~blockSize³ and
  * assembly is primitive array pastes instead of a groupBy-sort over
  * voxels. The fragments move in one shuffle that spreads the output
  * blocks over every core, so every core encodes (see [[assemble]]).
  * Equivalence with the element path is property-tested.
  *
  * Fragments and assembled blocks carry the dtype's big-endian element
  * bytes — what the codec decodes and encodes — so one byte pipeline
  * serves every dtype and moves each voxel at its stored width.
  */
object Regroup {

  /** One source-block slice destined for output block (tgx,tgy,tgz):
    * placed at offset (ox,oy,oz) with shape (sx,sy,sz), x-fastest element
    * bytes.
    */
  final case class Frag(
      tgx: Int, tgy: Int, tgz: Int,
      ox: Int, oy: Int, oz: Int,
      sx: Int, sy: Int, sz: Int,
      data: Array[Byte])

  final case class OutBlock(
      gx: Int, gy: Int, gz: Int, shape: Array[Int], data: Array[Byte])

  /** The box `extent` at `at` of a block of shape `shape` as dense
    * element bytes.
    */
  private def cut(
      src: Array[Byte], es: Int, shape: Array[Int], at: Array[Int],
      extent: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](extent.product * es)
    BlockCodec.copyBox(src, shape, at, out, extent, new Array[Int](3), extent, es)
    out
  }

  /** Shuffle fragments to their output blocks and paste: the one paste
    * behind rechunk, the block-local pyramid, the slice-ingest path and
    * the TIFF page export (a page is a w×h×1 block).
    *
    * Each fragment is keyed by its block's linear grid index and shuffled
    * into n = min(blocks, max(P, ⌈output bytes ÷ the scan's partition
    * size target⌉)) partitions, P the session's leaf parallelism (its
    * cores in local mode). Small keys hash to themselves, so blocks land
    * round-robin and every core encodes, while a 100 TB volume still gets
    * size-targeted tasks rather than one per block. The exchange is an
    * RDD shuffle: AQE coalesces a Dataset exchange of a few MB onto one
    * to three tasks, and it also runs that exchange's map stage as a job
    * of its own. Each partition arrives sorted by key, so a task pastes
    * one sorted run, one block, at a time and never holds its partition.
    */
  def assemble(
      frags: org.apache.spark.sql.Dataset[Frag],
      dst: DatasetAttributes): org.apache.spark.sql.Dataset[OutBlock] = {
    val spark = frags.sparkSession
    import spark.implicits._
    val es = dst.dataType.bytesPerElement
    val Array(ngx, ngy, ngz) = dst.gridDims.map(_.toLong)
    val target = graft.sources.n5.N5Scan.DefaultTargetPartitionBytes
    val bySize = (dst.dimensions.product * es + target - 1) / target
    val n = math.max(1L, math.min(ngx * ngy * ngz,
      math.max(GraftSqlBridge.leafNodeParallelism(spark).toLong, bySize))).toInt
    val blocks = frags.rdd
      .map(f => (f.tgx + ngx * (f.tgy + ngy * f.tgz), f))
      .repartitionAndSortWithinPartitions(new HashPartitioner(n))
      .mapPartitions { it =>
        val runs = it.buffered
        Iterator.continually(runs).takeWhile(_.hasNext).map { _ =>
          val (key, first) = runs.head
          val grid = Array(first.tgx, first.tgy, first.tgz)
          val tshape = dst.blockShape(grid)
          val out = new Array[Byte](tshape.product * es)
          while (runs.hasNext && runs.head._1 == key) {
            val f = runs.next()._2
            val ext = Array(f.sx, f.sy, f.sz)
            BlockCodec.copyBox(f.data, ext, new Array[Int](3), out, tshape,
              Array(f.ox, f.oy, f.oz), ext, es)
          }
          OutBlock(grid(0), grid(1), grid(2), tshape, out)
        }
      }
    spark.createDataset(blocks)
  }

  /** The one plane-to-block writer: every TIFF ingest (slice series,
    * per-channel series, OME page stacks, streaming slabs) hands its
    * decoders' native Int planes (z, x-fastest pixels of a w×h plane)
    * here. Each plane is narrowed once to the dtype's element bytes —
    * the codec's range check, so a pixel outside the dtype fails loudly
    * instead of wrapping — then cut into its block-column rectangles,
    * assembled and written. Slices may arrive offset in z (streaming slabs
    * pass absolute z).
    */
  def writeSlices(
      slices: org.apache.spark.sql.Dataset[(Long, Array[Int])],
      dst: DatasetAttributes, dstRoot: String, dstDataset: String): Unit =
    N5.write(slicesToBlocks(slices, dst).toDF(), dstRoot, dstDataset, dst)

  /** Fragment full z-slices into the block-column rectangles they
    * intersect and assemble them: shuffle rows are fragments
    * (blocks-per-slice), not pixels.
    */
  private def slicesToBlocks(
      slices: org.apache.spark.sql.Dataset[(Long, Array[Int])],
      dst: DatasetAttributes): org.apache.spark.sql.Dataset[OutBlock] = {
    import slices.sparkSession.implicits._
    val Array(w, h, _) = dst.dimensions.map(_.toInt)
    val Array(nbx, nby, nbz) = dst.blockSize
    val dtype = dst.dataType
    val es = dtype.bytesPerElement
    val frags = slices.flatMap { case (z, px) =>
      val gz = (z / nbz).toInt
      val oz = (z - gz.toLong * nbz).toInt
      val plane =
        if (dtype.isFloat) BlockCodec.narrow(null, px.map(_.toDouble), px.length, dtype)
        else BlockCodec.narrow(px.map(_.toLong), null, px.length, dtype, s"slice z=$z: pixel")
      val fr = Seq.newBuilder[Frag]
      var tgy = 0
      while (tgy.toLong * nby < h) {
        val fy = math.min(nby, h - tgy * nby)
        var tgx = 0
        while (tgx.toLong * nbx < w) {
          val fx = math.min(nbx, w - tgx * nbx)
          fr += Frag(tgx, tgy, gz, 0, 0, oz, fx, fy, 1,
            cut(plane, es, Array(w, h, 1), Array(tgx * nbx, tgy * nby, 0), Array(fx, fy, 1)))
          tgx += 1
        }
        tgy += 1
      }
      fr.result()
    }
    assemble(frags, dst)
  }

  /** Rechunk src dataset into dstRoot/dstDataset with a new block size.
    * One fragment shuffle of element bytes; no element explosion.
    */
  def rechunkBlocks(
      spark: SparkSession, srcRoot: String, srcDataset: String,
      dstRoot: String, dstDataset: String, newBlockSize: Array[Int],
      compression: Compression = Compression("gzip")): DatasetAttributes = {
    val src = N5Meta.datasetAttributes(srcRoot, srcDataset)
    val dst = src.copy(blockSize = newBlockSize, compression = compression)
    val es = src.dataType.bytesPerElement

    import spark.implicits._
    val blocks = N5.readBytes(spark, srcRoot, srcDataset)
      .select(col("x0"), col("y0"), col("z0"), col("shape"), col("data"))
      .as[(Long, Long, Long, Array[Int], Array[Byte])]

    val Array(nbx, nby, nbz) = newBlockSize
    val frags = blocks.flatMap { case (x0, y0, z0, sshape, data) =>
      val Array(ssx, ssy, ssz) = sshape
      val fr = Seq.newBuilder[Frag]
      var tgz = (z0 / nbz).toInt
      while (tgz.toLong * nbz < z0 + ssz) {
        var tgy = (y0 / nby).toInt
        while (tgy.toLong * nby < y0 + ssy) {
          var tgx = (x0 / nbx).toInt
          while (tgx.toLong * nbx < x0 + ssx) {
            // intersection box in global coords
            val ix0 = math.max(x0, tgx.toLong * nbx)
            val ix1 = math.min(x0 + ssx, (tgx + 1).toLong * nbx)
            val iy0 = math.max(y0, tgy.toLong * nby)
            val iy1 = math.min(y0 + ssy, (tgy + 1).toLong * nby)
            val iz0 = math.max(z0, tgz.toLong * nbz)
            val iz1 = math.min(z0 + ssz, (tgz + 1).toLong * nbz)
            val (fx, fy, fz) = ((ix1 - ix0).toInt, (iy1 - iy0).toInt, (iz1 - iz0).toInt)
            fr += Frag(tgx, tgy, tgz,
              (ix0 - tgx.toLong * nbx).toInt, (iy0 - tgy.toLong * nby).toInt,
              (iz0 - tgz.toLong * nbz).toInt, fx, fy, fz,
              cut(data, es, sshape,
                Array((ix0 - x0).toInt, (iy0 - y0).toInt, (iz0 - z0).toInt),
                Array(fx, fy, fz)))
            tgx += 1
          }
          tgy += 1
        }
        tgz += 1
      }
      fr.result()
    }

    N5.write(assemble(frags, dst).toDF(), dstRoot, dstDataset, dst)
    dst
  }
}
