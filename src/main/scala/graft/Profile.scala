package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round measurement harness (guide §1/§7): runs named
  * queries to the noop sink with a stage-metrics listener attached and
  * prints, per query, the total wall plus every stage's duration, task
  * count, input bytes, shuffle read/write bytes and spill — the
  * empirical attribution the Spark UI would give, readable from a
  * headless log. Not part of the driver contract; local tooling only.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    case class St(var name: String, var wallMs: Long = 0, var tasks: Int = 0,
      var taskMs: Long = 0, var input: Long = 0, var shRead: Long = 0,
      var shWrite: Long = 0, var spill: Long = 0, var gcMs: Long = 0,
      var maxTaskMs: Long = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val st = stages.getOrElseUpdate(si.stageId, St(""))
        st.name = si.name.takeWhile(_ != '\n')
        st.wallMs += si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(te.stageId, St("?"))
        st.tasks += 1
        val m = te.taskMetrics
        if (m != null) {
          st.taskMs += m.executorRunTime
          st.maxTaskMs = math.max(st.maxTaskMs, m.executorRunTime)
          st.input += m.inputMetrics.bytesRead
          st.shRead += m.shuffleReadMetrics.totalBytesRead
          st.shWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled
          st.gcMs += m.jvmGCTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    // warmup
    try SparkEntry.queries("q01_agg_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // pass 1 untimed (JIT/footers), pass 2 profiled — mirrors Bench's min-of-2
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      stages.clear()
      System.gc()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"===== $name wall=$wall%.2fs =====")
      println("stageId wall_ms taskSum_ms maxTask_ms tasks input_MB shRead_MB shWrite_MB spill_MB gc_ms  name")
      stages.toSeq.sortBy(-_._2.taskMs).take(25).foreach { case (id, s) =>
        println(f"$id%7d ${s.wallMs}%7d ${s.taskMs}%10d ${s.maxTaskMs}%10d ${s.tasks}%5d ${mb(s.input)}%8s ${mb(s.shRead)}%9s ${mb(s.shWrite)}%10s ${mb(s.spill)}%8s ${s.gcMs}%5d  ${s.name.take(80)}")
      }
      val nJobs = stages.size
      println(s"[stages=$nJobs taskSum=${stages.values.map(_.taskMs).sum}ms]")
    }
    spark.stop()
  }
}
