package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call into one layer. Times are epoch nanoseconds so
  * they compare with Spark's stage timestamps; `op` is the operation the
  * span belongs to (spans of one operation share it).
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long, gcMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def wall: Long = end - start
}

/** A stage as the listener saw it, tagged with the span whose call
  * submitted its job. Times are epoch milliseconds.
  */
final class StageRec(val span: Int) {
  var submitted, completed = 0L
  var shuffleRead, shuffleWrite, spill, recordsRead = 0L
  val taskNanos = mutable.ArrayBuffer.empty[Long]
}

/** Records spans around the benchmark's calls into the engine and, through
  * a SparkListener, the jobs, stages and tasks each span ran. Everything
  * is held in memory until the run ends. A tracer built with
  * `enabled = false` never attaches the listener; while `active` is false,
  * `span` only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  var active: Boolean = enabled
  private val SpanKey = "perfbench.span"
  private val MarkerKey = "perfbench.marker"
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val nanoToEpoch = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  val jobSpan = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageRec]
  private val drained = new CountDownLatch(1)
  @volatile private var markerJob = -1

  private val listener = new SparkListener {
    private def tagOf(p: java.util.Properties, key: String) =
      Option(p).flatMap(q => Option(q.getProperty(key)))
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      tagOf(e.properties, SpanKey).foreach { s =>
        jobSpan(e.jobId) = s.toInt
        e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageRec(s.toInt)))
      }
      if (tagOf(e.properties, MarkerKey).isDefined) markerJob = e.jobId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach(_.taskNanos += e.taskInfo.duration * 1000000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        val i = e.stageInfo
        s.submitted = i.submissionTime.getOrElse(0L)
        s.completed = i.completionTime.getOrElse(0L)
        val m = i.taskMetrics
        if (m != null) {
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) drained.countDown()
  }

  if (enabled) sc.addSparkListener(listener)

  private def gcMillis: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Run `body` as a span named `layer.call`, nested in the open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack = id :: stack
      val gc0 = gcMillis
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        recorded += Span(id, op, name, parent, t0 + nanoToEpoch, t1 + nanoToEpoch, gcMillis - gc0)
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Wait until the listener has seen every event of the spans so far: the
    * listener bus delivers in order, so once a marker job's end arrives
    * every earlier event has been handled. Then detach the listener.
    */
  def finish(): Seq[Span] = {
    if (enabled) {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      sc.removeSparkListener(listener)
    }
    recorded.sortBy(_.id).toSeq
  }
}

/** Per-span rollups over a finished trace. */
final class TraceView(val spans: Seq[Span], tracer: Tracer) {
  private val children = spans.groupBy(_.parent)
  private val stagesBySpan = tracer.stages.values.groupBy(_.span)
  private val jobsBySpan = tracer.jobSpan.groupBy(_._2).map { case (s, m) => s -> m.size }

  def descendants(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(descendants)

  /** Span wall minus the union of its children's intervals. */
  def selfNanos(s: Span): Long =
    s.wall - Intervals.union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))

  def stagesOf(s: Span): Seq[StageRec] =
    descendants(s).flatMap(d => stagesBySpan.getOrElse(d.id, Nil))

  def jobsOf(s: Span): Int = descendants(s).map(d => jobsBySpan.getOrElse(d.id, 0)).sum

  /** Span wall minus the union of the intervals its stages ran. */
  def serialGapNanos(s: Span): Long = {
    val iv = stagesOf(s).filter(st => st.submitted > 0 && st.completed > 0)
      .map(st => (math.max(st.submitted * 1000000L, s.start), math.min(st.completed * 1000000L, s.end)))
      .filter { case (a, b) => b > a }
    s.wall - Intervals.union(iv)
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var first = true
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (first || a >= reach) { total += b - a; reach = b; first = false }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }
}
