package perfbench

import java.nio.file.{Files, Path}

import graft.n5.{Multiscale, N5}
import graft.operators.VolumeCC
import graft.sources.tiff.TiffVolume
import org.apache.spark.sql.SparkSession

/** The paper's round trip plus the analysis step after it: TIFF series →
  * 64³ gzip N5 → rechunk to 128³ → multiscale pyramid → connected
  * components of s1 at threshold 128 → TIFF export of s0. Write-heavy:
  * encode, publish, fragment exchanges and the operators layer do the work;
  * box pruning does none.
  */
final class VolumePipeline(spark: SparkSession, seed: Long, work: Path, dims: Array[Int]) extends Workload {
  private val Array(nx, ny, nz) = dims
  private val vol = Gen.SphereLattice(seed, dims)
  private val Threshold = 128
  private var tiffDir: Path = _
  private var slices: Array[Array[Byte]] = _
  private lazy val expectedS1: Array[Byte] = Gen.halve(slices.flatten, dims)
  private lazy val expectedForeground: Long = expectedS1.count(b => (b & 0xff) >= Threshold).toLong
  private var lastOut: Path = _

  val minOps = 2

  def generate(dir: Path): String = {
    tiffDir = dir.resolve("tiff")
    Files.createDirectories(tiffDir)
    slices = Array.tabulate(nz)(z => vol.box(Array(0, 0, z), Array(nx, ny, z + 1)))
    Gen.sha256(slices.indices.iterator.map { z =>
      val bytes = Gen.tiff(nx, ny, slices(z))
      Files.write(tiffDir.resolve(f"slice_$z%05d.tif"), bytes)
      bytes
    })
  }

  def run(i: Int, tr: Tracer): OpOutcome = {
    if (lastOut != null) Workload.deleteTree(lastOut)
    val out = work.resolve(s"pipeline-$i")
    lastOut = out
    val root = out.resolve("n5").toString
    val exportDir = out.resolve("export")
    val (comps, wall) = timed(tr.span("op") {
      tr.span("tiff.ingestSlices")(
        TiffVolume.ingestSlices(spark, tiffDir.toString, root, "ingest", Array(64, 64, 64)))
      tr.span("n5.rechunk")(N5.rechunk(spark, root, "ingest", root, "vol/s0", Array(128, 128, 128)))
      tr.span("n5.buildPyramid")(Multiscale.buildPyramid(spark, root, "vol"))
      val comps = tr.span("operators.components")(
        VolumeCC.components(N5.read(spark, root, "vol/s1"), nx / 2, ny / 2, Threshold).collect())
      tr.span("tiff.exportSlices")(TiffVolume.exportSlices(spark, root, "vol/s0", exportDir.toString))
      comps
    })

    tr.span("bench.check")(check(out, exportDir, comps, wall))
  }

  private def check(out: Path, exportDir: Path, comps: Array[org.apache.spark.sql.Row], wall: Long): OpOutcome = {
    val failures = Seq.newBuilder[String]
    val exported = (0 until nz).count { z =>
      val f = exportDir.resolve(f"slice_$z%05d.tif")
      Files.exists(f) && {
        val (w, h, px) = Gen.readTiff(Files.readAllBytes(f))
        w == nx && h == ny && java.util.Arrays.equals(px, slices(z))
      }
    }
    if (exported != nz) failures += s"$exported of $nz exported slices equal the generated ones"
    val (s1Dims, s1) = Gen.readN5Volume(out.resolve("n5/vol/s1"))
    if (s1Dims.toSeq != dims.map(_ / 2).toSeq || !java.util.Arrays.equals(s1, expectedS1))
      failures += "s1 differs from the windowed mean of the generated volume"
    if (comps.length != vol.spheres)
      failures += s"${comps.length} components, ${vol.spheres} spheres planted"
    val voxels = comps.map(_.getAs[Long]("n_voxels")).sum
    if (voxels != expectedForeground)
      failures += s"components hold $voxels voxels, s1 has $expectedForeground at >= $Threshold"

    val all = Workload.blockFiles(out.resolve("n5"))
    val levels = Workload.blockFiles(out.resolve("n5/vol"))
    OpOutcome(wall, 4, failures.result(), Map(
      "n5.blocks_written" -> all.size.toDouble,
      "n5.bytes_written" -> all.map(Files.size).sum.toDouble,
      "n5.stored_bytes_ratio" -> levels.map(Files.size).sum.toDouble / (nx.toLong * ny * nz)))
  }

  override def storedBlocks: Seq[Path] =
    if (lastOut == null) Nil else Workload.blockFiles(lastOut.resolve("n5"))

  override def close(): Unit = if (lastOut != null) Workload.deleteTree(lastOut)
}
