package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level LINT over `src/main/scala`, for invariants no plan shows.
  *
  *  - Hadoop `Configuration` is constructed only in
  *    [[graft.sources.HadoopFs]]: the first lookup on a fresh instance
  *    re-parses the default resources, so a per-call construction on a
  *    metadata read, grid walk or block reader costs tens of milliseconds
  *    per query.
  *  - Per-dtype element conversions live in one place per direction:
  *    `BlockCodec.widen`/`narrow` between element bytes and Long/Double
  *    values, and `N5Schema.elementType` plus the read conversion
  *    `N5Schema.sparkValues` (element bytes to Spark's typed arrays) in
  *    the connector. A new `case Dtype.UInt8` loop set elsewhere in those
  *    files is the scattered sign handling the single codec exists to
  *    prevent.
  *  - Blocks, fragments and TIFF pages carry their dtype's element bytes
  *    from decode to encode: no raw-Double-bits convention and no
  *    Long-widened block pipeline under the N5 and TIFF sources.
  *  - `N5.readBox` is one element scan: the scan lists the grid and
  *    densifies absent blocks itself, so the body needs no driver-side
  *    `listChunks` walk and no `union` of generated zero rows.
  *  - `VolumeCC` decodes and labels each block once per call: one block
  *    pass emits both the per-label accumulators and the face voxels, and
  *    one closure helper runs the face join and `ConnectedComponents`. A
  *    second `localRoots` call beyond `labelVolume`'s relabel pass, or a
  *    second closure, is another full pass over the volume or another
  *    copy of the stitching plan.
  *  - Pushed N5 aggregates have one implementation, `N5AggregateReader`:
  *    the element reader factory builds it for tasks and
  *    `N5Scan.aggregateRow` for the driver-side one-block answer. A third
  *    construction site is the start of a second aggregate path.
  *  - Block and page pastes take `Regroup.assemble`'s balanced RDD
  *    shuffle: a `groupByKey` in `Regroup` or `TiffVolume` is a Dataset
  *    exchange that AQE coalesces onto one to three encoding tasks.
  *  - Whole files are published through `HadoopFs.localPath` on
  *    `file://`: a Hadoop `create` there costs milliseconds per file and
  *    writes a `.crc` sibling. `.create(` is left only in the four
  *    non-`file://` fallbacks: blocks, shards, `HadoopFs.writeFile` and
  *    the ANN catalog marker.
  *  - ImageIO reads and writes TIFFs through in-memory image streams:
  *    handed a plain stream, it caches through a temp file per image.
  */
class SourceLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def sources: Seq[Path] = {
    val s = Files.walk(mainRoot)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("Hadoop Configuration is constructed only in graft.sources.HadoopFs") {
    val helper = mainRoot.resolve("graft/sources/HadoopFs.scala")
    val ctor = """new\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\(""".r
    val files = sources
    assert(files.contains(helper), s"missing $helper")
    val offenders = for {
      f <- files if f != helper
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if ctor.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"per-call Hadoop Configuration construction:\n${offenders.mkString("\n")}")
    assert(ctor.findAllIn(new String(Files.readAllBytes(helper))).size == 1)
  }

  test("per-dtype conversion loops live only in the dtype codec and N5Schema") {
    for ((rel, max) <- Seq("graft/n5/BlockCodec.scala" -> 2,
        "graft/sources/n5/N5DataSource.scala" -> 2)) {
      val f = mainRoot.resolve(rel)
      val n = "case Dtype.UInt8".r
        .findAllIn(new String(Files.readAllBytes(f))).size
      assert(n <= max, s"$f has $n `case Dtype.UInt8` matches; at most $max")
    }
  }

  test("TIFF planes reach blocks only through Regroup's plane writer") {
    def matches(files: Seq[Path], needle: String): Seq[String] = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(needle)
    } yield s"$f:${i + 1}: ${line.trim}"
    val tiff = matches(
      sources.filter(_.startsWith(mainRoot.resolve("graft/sources/tiff"))),
      "array<bigint>")
    assert(tiff.isEmpty, s"Catalyst widening in the TIFF sources:\n${tiff.mkString("\n")}")
    val regroup = mainRoot.resolve("graft/n5/Regroup.scala")
    val outside = matches(sources.filter(_ != regroup), "slicesToBlocks(")
    assert(outside.isEmpty,
      s"slice fragmenting outside Regroup.writeSlices:\n${outside.mkString("\n")}")
  }

  test("N5 and TIFF pipelines move element bytes, not Long-widened payloads") {
    val dirs = Seq("graft/n5", "graft/sources/n5", "graft/sources/tiff")
      .map(mainRoot.resolve)
    val needles = Seq("doubleToRawLongBits", "longBitsToDouble",
      "typedLongBlocks(", "blocksDF(")
    val offenders = for {
      f <- sources if dirs.exists(f.startsWith)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"raw Double bits or the Long-widened block pipeline:\n${offenders.mkString("\n")}")
  }

  test("N5.readBox is one scan: no driver-side listing, no union") {
    val src = new String(Files.readAllBytes(mainRoot.resolve("graft/n5/N5.scala")))
    val start = src.indexOf("  def readBox(")
    assert(start >= 0, "N5.readBox not found")
    val next = "\n  (def |/\\*\\*|private )".r.findFirstMatchIn(src.substring(start + 1))
    val body = src.substring(start, next.map(start + 1 + _.start).getOrElse(src.length))
    for (needle <- Seq("union(", "listChunks("))
      assert(!body.contains(needle), s"N5.readBox calls $needle")
  }

  test("N5AggregateReader is built only by the reader factory and the driver path") {
    val sites = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("new N5AggregateReader(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(sites.size == 2, s"expected 2 N5AggregateReader constructions:\n${sites.mkString("\n")}")
  }

  test("VolumeCC reads and labels each block once: one block pass, one closure") {
    val src = new String(Files.readAllBytes(
      mainRoot.resolve("graft/operators/VolumeCC.scala")))
    def count(needle: String) = src.split(Pattern.quote(needle), -1).length - 1
    val roots = count("localRoots(") - count("def localRoots(")
    assert(roots <= 2, s"$roots localRoots( call sites; at most 2 (block pass, relabel)")
    val runs = count("ConnectedComponents.run(")
    assert(runs == 1, s"$runs ConnectedComponents.run( calls; exactly 1")
  }

  private def sitesOf(needle: String): Seq[(Path, Int, String)] = for {
    f <- sources
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    if line.contains(needle)
  } yield (f, i + 1, line.trim)

  test("block and page pastes use no groupByKey exchange") {
    for (rel <- Seq("graft/n5/Regroup.scala", "graft/sources/tiff/TiffVolume.scala")) {
      val src = new String(Files.readAllBytes(mainRoot.resolve(rel)))
      assert(!src.contains("groupByKey("), s"$rel calls groupByKey(")
    }
  }

  test("Hadoop creates are left only in the non-file:// fallbacks") {
    val want = Map("graft/sources/n5/N5DataSource.scala" -> 2,
      "graft/sources/HadoopFs.scala" -> 1, "graft/functions/AnnIndex.scala" -> 1)
    val sites = sitesOf(".create(")
    val got = sites.groupBy(s => mainRoot.relativize(s._1).toString).map { case (f, ss) => f -> ss.size }
    assert(got == want, sites.map { case (f, i, l) => s"$f:$i: $l" }.mkString("\n"))
    for (rel <- want.keys)
      assert(new String(Files.readAllBytes(mainRoot.resolve(rel))).contains("localPath("),
        s"$rel creates through Hadoop without a file:// path")
  }

  test("ImageIO reads and writes only in-memory image streams") {
    // the stream argument: read's first, write's third
    val call = """ImageIO\.(?:read\(|write\([^,]+,[^,]+,)\s*(new\s+[\w.]+|\w+)""".r
    val sites = sitesOf("ImageIO.read(") ++ sitesOf("ImageIO.write(")
    assert(sites.nonEmpty)
    for ((f, i, line) <- sites) {
      val src = new String(Files.readAllBytes(f))
      val ok = call.findFirstMatchIn(line).exists { m =>
        val arg = m.group(1)
        if (arg.startsWith("new")) arg.matches("""new\s+[\w.]*MemoryCacheImage(Input|Output)Stream""")
        else raw"""val\s+$arg\s*=\s*new\s+[\w.]*MemoryCacheImage(Input|Output)Stream\(""".r
          .findFirstIn(src).isDefined
      }
      assert(ok, s"$f:$i: ImageIO on a plain stream: $line")
    }
  }
}
