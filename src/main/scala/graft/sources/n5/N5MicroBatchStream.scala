package graft.sources.n5

import graft.n5.DatasetAttributes
import graft.sources.HadoopFs
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Streaming N5 source: `spark.readStream.format("n5")` emits each block
  * file as one row when it APPEARS (or is rewritten with a newer mtime) —
  * the live-acquisition counterpart of the streaming sink, e.g. a
  * microscope writing blocks while a Spark job derives stats or
  * multiscale levels downstream. Blocks are listed by the batch scan's
  * container-aware walk (`N5GridWalk.listChunks`: N5, zarr v2 and zarr
  * v3 keys alike), and pushed gx/gy/gz filters prune it the same way.
  *
  * Offset design: a modification-time watermark plus the block paths
  * within a GRACE WINDOW behind it. A batch admits files with
  * `mtime <= end.watermark`, newer than `start.watermark - grace`, and
  * not in the start offset's recent set. The grace window is what makes
  * late VISIBILITY safe: the writer stamps each block's mtime immediately
  * before its atomic rename, so a block can become listable at most
  * microseconds after its mtime — far inside the window — and a block
  * whose rename lands after a concurrent listing is picked up by the next
  * batch instead of being lost behind the watermark. Offset size stays
  * bounded (files of the last `grace` ms), unlike a full seen-set.
  *
  * Delivery semantics: exactly-once for append-only volumes (the spec
  * drives two slabs through one checkpoint). A rewritten block (newer
  * mtime) is re-delivered by design — with the caveat that a rewrite
  * landing in the SAME mtime tick as its delivered version (same
  * millisecond, or a filesystem with coarser setTimes granularity) is
  * indistinguishable from it and stays suppressed. Checkpoint recovery replays a
  * committed range by re-listing the directory, so blocks deleted or
  * rewritten between crash and restart can change a replayed batch —
  * at-least-once under concurrent mutation, like the reference's blind
  * block overwrites.
  */
class N5MicroBatchStream(
    root: String, dataset: String, attrs: DatasetAttributes,
    required: StructType, filters: Array[Filter], targetBytes: Long,
    maxBlocksPerBatch: Int = 0)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  import N5MicroBatchStream._

  @transient private lazy val fs = HadoopFs.fs(new HPath(root))

  /** (grid, mtime) of every stored block surviving the pushed filters. */
  private def listBlocks(): Seq[(Array[Int], Long)] =
    N5GridWalk.listChunks(fs, new HPath(root, dataset), attrs,
      N5GridFilters.axisOk(filters))

  // snapshot backing the most recent latestOffset(), so a planned batch
  // sees exactly the files its end offset described
  @volatile private var snapshot: Seq[(Array[Int], Long)] = Nil
  // Trigger.AvailableNow: the offset frozen at query start — the run
  // drains up to here and terminates, ignoring later arrivals
  @volatile private var availableNowTarget: Option[Offset] = None

  override def initialOffset(): Offset = N5SourceOffset(Long.MinValue, Nil)

  /** Offset at watermark `wm`: recent = path@mtime of files within the
    * grace window AT OR BELOW wm (an intermediate, rate-limited watermark
    * must not list files it has not admitted yet).
    */
  private def offsetAt(wm: Long, files: Seq[(Array[Int], Long)]): N5SourceOffset =
    if (wm == Long.MinValue) N5SourceOffset(Long.MinValue, Nil)
    else N5SourceOffset(wm,
      files.filter(f => f._2 > wm - GraceMs && f._2 <= wm)
        .map { case (g, m) => g.mkString("/") + "@" + m }.sorted)

  /** Delivered versions from an offset's recent set. Current entries are
    * `path@mtime`; LEGACY entries (path only, from a pre-versioned-offset
    * checkpoint) carry no mtime and are treated as "seen at every mtime up
    * to the offset watermark" so upgrading a checkpoint cannot re-deliver
    * grace-window blocks.
    */
  private def parseRecent(
      recent: Seq[String]): (Set[(String, Long)], Set[String]) = {
    val (versioned, legacy) = recent.partition(_.contains('@'))
    (versioned.map { entry =>
      val at = entry.lastIndexOf('@')
      (entry.substring(0, at), entry.substring(at + 1).toLong)
    }.toSet, legacy.toSet)
  }

  /** Is (path, mtime) already delivered per the start offset `s`? */
  private def alreadySeen(
      s: N5SourceOffset,
      seen: (Set[(String, Long)], Set[String]))(path: String, m: Long): Boolean =
    seen._1((path, m)) || (seen._2(path) && m <= s.watermark)

  /** THE admission predicate — the single definition shared by offset
    * computation and batch planning. If these ever diverged, the end
    * offset would describe a different admitted set than the batch
    * delivers (blocks dropped or duplicated across batches).
    */
  private def admitted(
      s: N5SourceOffset, seen: (Set[(String, Long)], Set[String]),
      endWatermark: Long)(g: Array[Int], m: Long): Boolean =
    m <= endWatermark &&
      (s.watermark == Long.MinValue ||
        (m > s.watermark - GraceMs && !alreadySeen(s, seen)(g.mkString("/"), m)))

  private def computeLatest(): Offset = {
    snapshot = listBlocks()
    if (snapshot.isEmpty) N5SourceOffset(Long.MinValue, Nil)
    else offsetAt(snapshot.map(_._2).max, snapshot)
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(computeLatest())

  override def latestOffset(): Offset =
    availableNowTarget.getOrElse(computeLatest())

  /** Admission-control variant (SupportsTriggerAvailableNow extends
    * SupportsAdmissionControl). With `maxBlocksPerBatch` unset each batch
    * drains to the target/current offset; with it set, a catch-up over a
    * large backlog (first run on a 100 TB volume, recovery after downtime)
    * is split into bounded micro-batches by advancing the watermark only
    * as far as the cap-th admissible file's mtime — files sharing the cut
    * mtime are all admitted, so the cap is approximate at mtime
    * granularity. Under Trigger.AvailableNow the run still drains exactly
    * to the frozen target, just across several batches.
    */
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val full = latestOffset().asInstanceOf[N5SourceOffset]
    if (maxBlocksPerBatch <= 0 || full.watermark == Long.MinValue) return full
    val s = start.asInstanceOf[N5SourceOffset]
    val seen = parseRecent(s.recent)
    val admissible =
      snapshot.filter((admitted(s, seen, full.watermark) _).tupled)
    if (admissible.size <= maxBlocksPerBatch) full
    else {
      val cut = admissible.map(_._2).sorted.apply(maxBlocksPerBatch - 1)
      // never regress the watermark (a late-visible burst below the start
      // watermark is delivered in one batch — bounded by the grace window)
      offsetAt(math.max(cut, s.watermark), snapshot)
    }
  }

  override def deserializeOffset(json: String): Offset =
    N5SourceOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[N5SourceOffset]
    val e = end.asInstanceOf[N5SourceOffset]
    // delivered (path, mtime) versions — a path alone must NOT suppress a
    // REWRITTEN block (newer mtime) or it would be dropped forever while
    // its mtime stays within grace of the advancing watermark
    val seen = parseRecent(s.recent)
    // checkpoint recovery replays a committed (start, end) range without a
    // preceding latestOffset() call — re-list when the cached snapshot
    // does not cover the end offset (files past `end` are filtered out)
    val snap0 = snapshot
    val snap =
      if (e.watermark == Long.MinValue) Nil
      else if (snap0.nonEmpty && snap0.map(_._2).max >= e.watermark) snap0
      else listBlocks()
    val grids = snap.filter((admitted(s, seen, e.watermark) _).tupled).map(_._1)
    // same size-targeted grouping as the batch scan: a catch-up batch
    // over thousands of blocks must not serialize onto one task
    N5Scan.groupIntoPartitions(root, dataset, grids, attrs, targetBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new N5ReaderFactory(attrs, required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object N5MicroBatchStream {
  /** How far visibility may lag a block's (publish-stamped) mtime before
    * the source could miss it. The writer's stamp→rename gap is
    * microseconds; 10 s covers pathological scheduler stalls.
    */
  val GraceMs: Long = 10000L

  /** Watermark offset: newest seen mtime + `path@mtime` entries within the
    * grace window behind it (the bounded dedup set for late-visible files).
    * Keyed by VERSION, not path: only the exact delivered (path, mtime) is
    * suppressed, so a rewrite with a newer mtime is re-delivered.
    */
  final case class N5SourceOffset(watermark: Long, recent: Seq[String])
      extends Offset {
    override def json(): String = {
      val files = recent.map(p => "\"" + p + "\"").mkString("[", ",", "]")
      s"""{"watermark":$watermark,"recent":$files}"""
    }
  }

  object N5SourceOffset {
    def fromJson(json: String): N5SourceOffset = {
      val wm = "\"watermark\":(-?\\d+)".r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(Long.MinValue)
      // path@mtime entries, plus bare-path LEGACY entries from
      // pre-versioned-offset checkpoints (kept: they still suppress
      // already-delivered blocks up to the watermark)
      val files = "\"([0-9/]+(?:@-?\\d+)?)\"".r.findAllMatchIn(json)
        .map(_.group(1)).toSeq
      N5SourceOffset(wm, files)
    }
  }
}
