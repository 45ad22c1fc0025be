package graft.n5

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Group block table (`N5.readGroup`): channel/level virtual columns over
  * the reference's sibling-path layout (`c{c}/s{l}`), with dataset-level
  * pruning via literal constant folding — a channel/level filter must fold
  * non-matching union branches away before any scan I/O.
  */
class N5GroupSpec extends SparkSpec {

  private val attrs0 = DatasetAttributes(Array(16L, 16L, 8L), Array(8, 8, 8),
    Dtype.UInt8, Compression("gzip"))

  /** Two channels × two levels; each dataset's voxels are constant
    * 10*c + l so provenance is checkable per row.
    */
  private def buildTree(root: String): Unit =
    for (c <- 0 to 1; l <- 0 to 1) {
      val attrs = if (l == 0) attrs0
        else attrs0.copy(dimensions = attrs0.dimensions.map(_ / 2))
      val Array(dx, dy, _) = attrs.dimensions
      val elems = spark.range(attrs.dimensions.product).select(
        expr(s"id % $dx").as("x"),
        expr(s"(id div $dx) % $dy").as("y"),
        expr(s"id div ${dx * dy}").as("z"),
        lit(10 * c + l).as("v"))
      N5.write(N5.blocksFromElements(elems, attrs), root, s"g/c$c/s$l", attrs)
    }

  test("readGroup surfaces channel/level and all datasets' blocks") {
    val root = s"${Files.createTempDirectory("n5grp")}/g.n5"
    buildTree(root)
    val g = N5.readGroup(spark, root, "g")
    val rows = g.select(col("channel"), col("level"),
      element_at(col("data"), 1).as("v0"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getShort(2).toInt)).toSet
    assert(rows == Set((0, 0, 0), (0, 1, 1), (1, 0, 10), (1, 1, 11)))
    // block counts: s0 is 2x2x1 grid = 4 blocks, s1 is 1 block
    val counts = g.groupBy(col("channel"), col("level")).count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(counts == Map((0, 0) -> 4L, (0, 1) -> 1L,
      (1, 0) -> 4L, (1, 1) -> 1L))
  }

  test("channel-less pyramid maps to channel 0") {
    val root = s"${Files.createTempDirectory("n5grpp")}/p.n5"
    for (l <- 0 to 1) {
      val attrs = if (l == 0) attrs0
        else attrs0.copy(dimensions = attrs0.dimensions.map(_ / 2))
      val Array(dx, dy, _) = attrs.dimensions
      val elems = spark.range(attrs.dimensions.product).select(
        expr(s"id % $dx").as("x"), expr(s"(id div $dx) % $dy").as("y"),
        expr(s"id div ${dx * dy}").as("z"), lit(l).as("v"))
      N5.write(N5.blocksFromElements(elems, attrs), root, s"vol/s$l", attrs)
    }
    val g = N5.readGroup(spark, root, "vol")
    assert(g.select(col("channel")).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(0))
    assert(g.filter(col("level") === 1).count() == 1)
  }

  test("a channel/level filter prunes non-matching datasets from the plan") {
    val root = s"${Files.createTempDirectory("n5grpf")}/f.n5"
    buildTree(root)
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val filtered = N5.readGroup(spark, root, "g")
        .filter(col("channel") === 1 && col("level") === 0)
      val plan = filtered.queryExecution.executedPlan.toString
      val scans = "BatchScan".r.findAllIn(plan).size
      assert(scans == 1,
        s"expected the 3 non-matching datasets folded away, got $scans scans:\n$plan")
      assert(filtered.count() == 4)
    } finally spark.conf.set(key, prev)
  }

  test("readGroup rejects zero-padded duplicate channel ids") {
    val root = s"${Files.createTempDirectory("n5grpd")}/d.n5"
    buildTree(root)
    // c01 parses to the same channel id as c1 — double-counting hazard
    val Array(dx, dy, _) = attrs0.dimensions
    val elems = spark.range(attrs0.dimensions.product).select(
      expr(s"id % $dx").as("x"), expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id div ${dx * dy}").as("z"), lit(7).as("v"))
    N5.write(N5.blocksFromElements(elems, attrs0), root, "g/c01/s0", attrs0)
    val ex = intercept[IllegalArgumentException] {
      N5.readGroup(spark, root, "g")
    }
    assert(ex.getMessage.contains("duplicate channel ids"))
  }

  test("readGroup rejects mixed dtypes loudly") {
    val root = s"${Files.createTempDirectory("n5grpm")}/m.n5"
    buildTree(root)
    val fAttrs = attrs0.copy(dataType = Dtype.Float32)
    val Array(dx, dy, _) = fAttrs.dimensions
    val elems = spark.range(fAttrs.dimensions.product).select(
      expr(s"id % $dx").as("x"), expr(s"(id div $dx) % $dy").as("y"),
      expr(s"id div ${dx * dy}").as("z"), lit(1.5f).as("v"))
    N5.write(N5.blocksFromElements(elems, fAttrs), root, "g/c2/s0", fAttrs)
    val ex = intercept[IllegalArgumentException] {
      N5.readGroup(spark, root, "g")
    }
    assert(ex.getMessage.contains("mixes dtypes"))
  }
}
