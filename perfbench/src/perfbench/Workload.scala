package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.n5.{BlockCodec, Compression, Dtype}

/** What one operation reports: the wall time of its engine calls (checks
  * excluded), the checks it ran and those that failed, and counts for the
  * per-layer metrics.
  */
final case class OpOutcome(
    wallNanos: Long, checks: Int, failures: Seq[String], counts: Map[String, Double] = Map.empty)

/** A benchmark workload. `generate` writes seeded inputs; the timed loop
  * then calls `run(i)` for i = 0, 1, 2, ... Operation i depends only on the
  * seed and i, so a traced pass can replay the untraced one.
  */
trait Workload {
  /** Fewest operations a run makes, however short `--seconds` is. */
  def minOps: Int

  /** A run makes a whole number of batches of this many operations. */
  def batch: Int = 1

  /** Untimed operations that let JIT compilation and lazy set-up finish
    * before timing: by default operation -1. `dir` is free for inputs of
    * its own.
    */
  def warmUp(dir: Path, tr: Tracer): Seq[OpOutcome] = Seq(run(-1, tr))

  /** Write the inputs under `dir`; return the SHA-256 of every input byte. */
  def generate(dir: Path): String

  /** Operation i. Engine calls go inside `tr.span("op")`. */
  def run(i: Int, tr: Tracer): OpOutcome

  /** Stored N5 block files for the traced codec pass (may be empty). */
  def storedBlocks: Seq[Path] = Nil

  def close(): Unit = ()

  /** Time the block `body` and return (result, nanoseconds). */
  protected def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
    }

  /** N5 block files (numeric path components) under `root`. */
  def blockFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val all = Files.walk(root)
      try all.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.forall(_.isDigit)).toSeq.sortBy(_.toString)
      finally all.close()
    }

  /** Decode and re-encode uint8 gzip blocks with the engine's codec until at
    * least `minRawBytes` have passed each way. Returns decode MB/s, encode
    * MB/s (raw voxel megabytes, 10^6 bytes) and the pass as one checked
    * operation: each decode is compared with the benchmark's own reader.
    */
  def codecPass(files: Seq[Path], minRawBytes: Long): (Double, Double, OpOutcome) = {
    val gzip = Compression("gzip")
    var raw, decNs, encNs = 0L
    var blocks = 0
    val failures = Seq.newBuilder[String]
    val it = Iterator.continually(files).flatten
    while (files.nonEmpty && raw < minRawBytes) {
      val f = it.next()
      val bytes = Files.readAllBytes(f)
      val t0 = System.nanoTime()
      val d = BlockCodec.decode(bytes, Dtype.UInt8, gzip)
      val t1 = System.nanoTime()
      BlockCodec.encode(d.shape, d.longs, d.doubles, Dtype.UInt8, gzip)
      val t2 = System.nanoTime()
      decNs += t1 - t0
      encNs += t2 - t1
      raw += d.numElements
      blocks += 1
      val (_, mine) = Gen.readN5Block(bytes)
      if (!d.longs.indices.forall(i => d.longs(i) == (mine(i) & 0xff)))
        failures += s"codec decode of $f differs from the independent reader"
    }
    val outcome = OpOutcome(decNs + encNs, blocks, failures.result())
    if (raw == 0) (0.0, 0.0, outcome)
    else (raw / 1e6 / (decNs / 1e9), raw / 1e6 / (encNs / 1e9), outcome)
  }
}
