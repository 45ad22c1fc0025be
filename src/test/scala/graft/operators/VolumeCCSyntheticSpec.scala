package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import graft.n5.{Compression, DatasetAttributes, Dtype, N5}

/** VolumeCC on a volume the spec writes itself: a 21×17×13 uint8 volume
  * in 8×6×5 blocks (3 blocks per axis, the last one edge-trimmed on every
  * axis) of seeded noise at ~41 % foreground, so components cross block
  * faces on all three axes. Every result is checked against a naive
  * whole-volume BFS over the generated values, never against the engine's
  * own read path.
  */
class VolumeCCSyntheticSpec extends SparkSpec {

  private val (nx, ny, nz) = (21, 17, 13)
  private val blockSize = Array(8, 6, 5)
  private val threshold = 150L // above 127: uint8 values must read unsigned

  private val values: Array[Int] = {
    val rng = new scala.util.Random(20261019L)
    Array.fill(nx * ny * nz)(rng.nextInt(256))
  }

  private def gid(x: Int, y: Int, z: Int): Int = x + nx * (y + ny * z)

  /** BFS component of every voxel: the minimum global voxel id of its
    * 6-connected foreground cluster (the scan order reaches it first), or
    * -1 for background.
    */
  private lazy val bfs: Array[Long] = {
    val comp = Array.fill(values.length)(-1L)
    for (i <- values.indices if values(i) >= threshold && comp(i) == -1L) {
      val q = scala.collection.mutable.Queue(i)
      comp(i) = i.toLong
      while (q.nonEmpty) {
        val c = q.dequeue()
        val (x, y, z) = (c % nx, (c / nx) % ny, c / (nx * ny))
        for ((xx, yy, zz) <- Seq((x - 1, y, z), (x + 1, y, z), (x, y - 1, z),
            (x, y + 1, z), (x, y, z - 1), (x, y, z + 1))
            if xx >= 0 && xx < nx && yy >= 0 && yy < ny && zz >= 0 && zz < nz) {
          val j = gid(xx, yy, zz)
          if (values(j) >= threshold && comp(j) == -1L) {
            comp(j) = i.toLong; q.enqueue(j)
          }
        }
      }
    }
    comp
  }

  private def voxels: Iterator[(Int, Int, Int, Int)] =
    values.indices.iterator.map(i => (i % nx, (i / nx) % ny, i / (nx * ny), i))

  private lazy val root: String = {
    val dir = Files.createTempDirectory("vccsyn").toString
    val attrs = DatasetAttributes(Array(nx.toLong, ny.toLong, nz.toLong),
      blockSize, Dtype.UInt8, Compression("gzip"))
    import spark.implicits._
    val elems = voxels.map { case (x, y, z, i) =>
      (x.toLong, y.toLong, z.toLong, values(i).toLong)
    }.toSeq.toDF("x", "y", "z", "v")
    N5.write(N5.blocksFromElements(elems, attrs), dir, "vol/s0", attrs)
    dir
  }

  private def components(dir: String, ds: String): Map[Long, Long] =
    VolumeCC.components(N5.read(spark, dir, ds), nx, ny, threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("the fixture has edge-trimmed blocks and components crossing " +
      "block faces on every axis") {
    assert(Seq(nx, ny, nz).zip(blockSize).forall { case (d, b) =>
      d > 2 * b && d % b != 0 })
    val members = voxels.filter(v => bfs(v._4) >= 0).toSeq.groupBy(v => bfs(v._4))
    for (axis <- 0 until 3) {
      val crossing = members.values.count { vs =>
        vs.map(v => Seq(v._1, v._2, v._3)(axis) / blockSize(axis)).distinct.size > 1
      }
      assert(crossing > 0, s"no component crosses a block face on axis $axis")
    }
    assert(members.size > 10, s"only ${members.size} components")
  }

  test("components equal the naive whole-volume BFS") {
    val expected = bfs.filter(_ >= 0).groupBy(identity).map { case (c, vs) =>
      c -> vs.length.toLong
    }
    val got = components(root, "vol/s0")
    assert(got == expected,
      s"${got.size} components vs ${expected.size} from the BFS; " +
        s"diverging e.g. ${expected.filter { case (k, n) => !got.get(k).contains(n) }.take(3)}")
  }

  test("regionProps equal a naive per-component pass (count, bbox, e4 centroid)") {
    val expected = voxels.filter(v => bfs(v._4) >= 0).toSeq
      .groupBy(v => bfs(v._4)).map { case (c, vs) =>
        val n = vs.size.toLong
        def e4(s: Long) = math.floor(10000.0 * s / n + 0.5).toLong
        val (xs, ys, zs) = (vs.map(_._1.toLong), vs.map(_._2.toLong), vs.map(_._3.toLong))
        c -> Seq(n, xs.min, xs.max, ys.min, ys.max, zs.min, zs.max,
          e4(xs.sum), e4(ys.sum), e4(zs.sum))
      }
    val props = VolumeCC.regionProps(N5.read(spark, root, "vol/s0"), nx, ny, threshold)
    assert(props.columns.toSeq == Seq("component", "n_voxels", "x_min", "x_max",
      "y_min", "y_max", "z_min", "z_max", "cx_e4", "cy_e4", "cz_e4"))
    val got = props.collect().map(r => r.getLong(0) -> (1 to 10).map(r.getLong)).toMap
    assert(got == expected,
      s"${expected.count { case (k, v) => !got.get(k).contains(v) }} props diverge")
  }

  test("labelVolume assigns every voxel its BFS component + 1") {
    val got = VolumeCC.labelVolume(N5.read(spark, root, "vol/s0"), nx, ny, threshold)
      .collect()
    assert(got.length == values.length)
    val bad = got.filter { r =>
      r.getLong(3) != bfs(gid(r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2).toInt)) + 1
    }
    assert(bad.isEmpty, s"${bad.length} voxels mislabeled, e.g. ${bad.take(3).toSeq}")
  }

  test("components are invariant under a rechunk to smaller blocks") {
    val dir = Files.createTempDirectory("vccsyn-r").toString
    N5.rechunk(spark, root, "vol/s0", dir, "vol/s0", Array(4, 3, 2))
    assert(components(dir, "vol/s0") == components(root, "vol/s0"))
  }

  test("labelVolume fails loudly past a small closure cap") {
    val e = intercept[IllegalArgumentException] {
      VolumeCC.labelVolume(N5.read(spark, root, "vol/s0"), nx, ny, threshold,
        maxClosureEntries = 3).count()
    }
    assert(e.getMessage.contains("closure exceeds"), e.getMessage)
  }
}
