package perfbench

import java.nio.file.{Files, Path}

import graft.n5.N5
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One analyst in a closed loop: each query reads a box of a stored
  * 512³-class volume (64³ gzip blocks) with `N5.readBox` and aggregates it
  * to count, sum, max and a thresholded count. Read-only: nothing is
  * encoded and the only exchange is the one-row final aggregate.
  *
  * Each run of 20 queries holds exactly 14 small boxes (16³, inside one
  * block), 5 medium (128³) and 1 large (256³) in a seeded order, so the
  * median measures the fixed per-query driver cost and the p85 — the
  * middle medium box of each batch — measures decode and scan. Origins come
  * from 64 seeded regions drawn with Zipf weights, so some blocks are read
  * repeatedly.
  */
final class BoxQueries(spark: SparkSession, seed: Long, dims: Array[Int]) extends Workload {
  private val Block = 64
  private val Threshold = 128
  private val vol = Gen.SphereLattice(seed, dims)
  private val grid = dims.map(_ / Block)
  private var root: Path = _

  val minOps = 20
  override val batch = 20

  override def warmUp(dir: Path, tr: Tracer): Seq[OpOutcome] = (1 to 10).map(k => run(-k, tr))

  private val regions: Array[Array[Int]] = {
    val rnd = new java.util.SplittableRandom(Gen.mix(seed ^ 0x626f78L))
    Array.fill(64)(grid.map(g => rnd.nextInt(g) * Block))
  }
  private val zipfCdf: Array[Double] = {
    val w = (1 to regions.length).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Box [lo, hi) of query i. */
  def query(i: Int): (Array[Int], Array[Int]) = {
    val slot = {
      val order = (0 until batch).toArray
      val r = new java.util.SplittableRandom(Gen.mix(seed * 31 + Math.floorDiv(i, batch)))
      for (k <- batch - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = order(k); order(k) = order(j); order(j) = t }
      order(Math.floorMod(i, batch))
    }
    val size = if (slot < 14) 16 else if (slot < 19) 128 else 256
    val rnd = new java.util.SplittableRandom(Gen.mix(Gen.mix(seed) + i))
    val corner = regions(zipfCdf.indexWhere(_ >= rnd.nextDouble()) max 0)
    // larger boxes never start on a block boundary, so each size class
    // always touches the same number of blocks (27 or 125) at any seed
    val lo = Array.tabulate(3) { a =>
      if (size == 16) corner(a) + rnd.nextInt(Block - size + 1)
      else math.min(corner(a) + 1 + rnd.nextInt(Block - 1), dims(a) - size - Block / 2)
    }
    (lo, lo.map(_ + size))
  }

  def generate(dir: Path): String = {
    root = dir.resolve("n5")
    val ds = root.resolve("vol")
    Files.createDirectories(ds)
    val rootAttrs = """{"n5":"2.5.1"}""".getBytes("UTF-8")
    val attrs = Gen.n5Attributes(dims, Array(Block, Block, Block)).getBytes("UTF-8")
    Files.write(root.resolve("attributes.json"), rootAttrs)
    Files.write(ds.resolve("attributes.json"), attrs)
    val v = vol
    val g = grid
    val dsPath = ds.toString
    // block files are written by Spark tasks so generation uses every core
    val hashes = spark.sparkContext.parallelize(0 until g.product, g.product / 8)
      .map { b =>
        val gi = Array(b % g(0), (b / g(0)) % g(1), b / (g(0) * g(1)))
        val lo = gi.map(_ * 64)
        val bytes = Gen.n5Block(Array(64, 64, 64), v.box(lo, lo.map(_ + 64)))
        val f = java.nio.file.Paths.get(dsPath, gi(0).toString, gi(1).toString, gi(2).toString)
        Files.createDirectories(f.getParent)
        Files.write(f, bytes)
        (b, Gen.sha256(Iterator(bytes)))
      }.collect().sortBy(_._1).map(_._2.getBytes("UTF-8"))
    Gen.sha256(Iterator(rootAttrs, attrs) ++ hashes.iterator)
  }

  def run(i: Int, tr: Tracer): OpOutcome = {
    val (lo, hi) = query(i)
    val (row, wall) = timed(tr.span("op") {
      val df = tr.span("scan.plan") {
        val d = N5.readBox(spark, root.toString, "vol", lo.map(_.toLong), hi.map(_.toLong))
          .agg(count(lit(1)), sum(col("v")).cast("long"), max(col("v")).cast("long"),
            count(when(col("v") >= Threshold, 1)))
        d.queryExecution.executedPlan
        d
      }
      tr.span("scan.execute")(df.collect()(0))
    })
    tr.span("bench.check") {
      val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      val want = Gen.boxStats(vol, lo, hi, Threshold)
      val failures =
        if (got == want) Nil
        else Seq(s"box ${lo.mkString(",")}+${hi(0) - lo(0)}: got $got, expected $want")
      OpOutcome(wall, 1, failures, Map("scan.voxels" -> want._1.toDouble))
    }
  }

  override def storedBlocks: Seq[Path] = Workload.blockFiles(root)
}
