package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through perfbench/run.py):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <build dir>
  *
  * One JVM, one local Spark session sized to the machine's cores, one
  * client thread. Set-up generates the seeded inputs three times (the
  * hashes must agree) and warms up with one operation; the timed loop then
  * runs operations for `--seconds`. With `--trace 1` the loop runs a second
  * time with spans and a stage listener attached, and the run reports the
  * per-layer metrics instead of the end-to-end ones.
  *
  * The last stdout line is the result; the line before it records the
  * input hash and the machine's state. The full trace is written to
  * `<dir>/traces/`.
  */
object Main {
  private val json = new ObjectMapper()

  /** Operations of a timed loop; `iterNanos` is each one's whole wall,
    * checks included.
    */
  final case class Phase(outcomes: Seq[OpOutcome], iterNanos: Seq[Long], wallNanos: Long, cpuNanos: Long) {
    def walls: Seq[Double] = outcomes.map(_.wallNanos / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val dir = Paths.get(opt("dir")).toAbsolutePath
    val spec = json.readTree(Files.readAllBytes(Paths.get("BENCHMARK.json")))
    val wanted = spec.get(if (trace) "per_layer" else "end_to_end").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

    val work = dir.resolve("work").resolve(s"$workload-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val load0 = loadAverages()
    val steal0 = cpuJiffies()
    calibrationMs() // the first call also compiles the probe
    val calib0 = calibrationMs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionS = (System.nanoTime() - t0) / 1e9
      val w: Workload = workload match {
        case "volume_pipeline" => new VolumePipeline(spark, seed, work, Array(256, 256, 64))
        case "box_queries" => new BoxQueries(spark, seed, Array(512, 512, 512))
        case "vector_dedup" => new VectorDedup(spark, seed, 30000)
      }
      try {
        // set-up: three generations into fresh directories, median reported
        val gens = (0 until 3).map { r =>
          val d = work.resolve(s"inputs-$r")
          if (r > 0) Workload.deleteTree(work.resolve(s"inputs-${r - 1}"))
          val t = System.nanoTime()
          val h = w.generate(d)
          (h, (System.nanoTime() - t) / 1e9)
        }
        require(gens.map(_._1).distinct.size == 1, s"inputs differ between generations: ${gens.map(_._1)}")
        val off = new Tracer(spark.sparkContext, enabled = false)
        val warmT = System.nanoTime()
        val warm = w.warmUp(work.resolve("warm"), off)
        val warmS = (System.nanoTime() - warmT) / 1e9
        val setupS = sessionS + percentile(gens.map(_._2), 0.5) + warmS

        val (plain, traced) =
          if (!trace) (loop(w, off, seconds, paired = false)._1, None)
          else {
            val on = new Tracer(spark.sparkContext, enabled = true)
            val (p, t) = loop(w, on, seconds, paired = true)
            (p, Some((t, new TraceView(on.finish(), on))))
          }
        val codec = if (trace) Some(Workload.codecPass(w.storedBlocks, 16L << 20)) else None

        val all = warm ++ plain.outcomes ++ traced.toSeq.flatMap(_._1.outcomes) ++ codec.map(_._3)
        val failed = all.count(_.failures.nonEmpty)
        all.flatMap(_.failures).distinct.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))

        val values: Map[String, Double] = traced match {
          case None => endToEnd(plain, setupS)
          case Some((p, view)) => perLayer(plain, p, view, codec.get._1, codec.get._2)
        }
        val missing = wanted.map(_._1).filterNot(values.contains)
        require(missing.isEmpty, s"metrics not computed: ${missing.mkString(", ")}")
        val bad = wanted.filter { case (n, _) => !java.lang.Double.isFinite(values(n)) }
        require(bad.isEmpty, s"non-finite metrics: ${bad.map(_._1).mkString(", ")}")

        val cpuWall = plain.cpuNanos.toDouble / plain.wallNanos
        val run = ordered(
          "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
          "inputs_sha256" -> gens.head._1,
          "ops" -> plain.outcomes.size, "checks" -> all.map(_.checks).sum,
          "setup" -> ordered("session_s" -> sessionS, "generate_s" -> gens.map(_._2).asJava, "warmup_s" -> warmS),
          "env" -> ordered(
            "nproc" -> cores, "cpu_wall" -> cpuWall,
            "load_start" -> load0.asJava, "load_end" -> loadAverages().asJava,
            "steal_share" -> stealShare(steal0, cpuJiffies()),
            "calibration_ms_start" -> calib0, "calibration_ms_end" -> calibrationMs(),
            "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
            "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version")),
          "op_ms" -> plain.walls.asJava)
        traced.foreach { case (p, view) =>
          writeTrace(dir, workload, seed, run, p, view, values)
        }
        println(json.writeValueAsString(ordered("run" -> run)))
        println(json.writeValueAsString(ordered(
          "correct" -> (failed == 0),
          "attempted" -> all.size,
          "failed" -> failed,
          "metrics" -> ordered(wanted.map { case (n, u) => n -> ordered("value" -> values(n), "unit" -> u) }: _*))))
      } finally w.close()
    } finally {
      spark.stop()
      Workload.deleteTree(work)
    }
  }

  private val cores = Runtime.getRuntime.availableProcessors

  /** Operations i = 0, 1, ... until `seconds` have passed, at least
    * `minOps` ran and the count is a whole number of batches; a thrown
    * operation counts as a failed one. Returns the untraced and the traced
    * operations. When `paired`, each operation runs twice, untraced and
    * traced, first one then the other first in turn, so both see the same
    * JIT and cache state and their ratio is the tracing overhead.
    */
  private def loop(w: Workload, tr: Tracer, seconds: Int, paired: Boolean): (Phase, Phase) = {
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val out = Map(false -> Seq.newBuilder[(OpOutcome, Long)], true -> Seq.newBuilder[(OpOutcome, Long)])
    var i = 0
    while (System.nanoTime() - t0 < seconds * 1000000000L || i < w.minOps || i % w.batch != 0) {
      tr.op = i
      for (traced <- if (!paired) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)) {
        tr.active = traced
        val t = System.nanoTime()
        val o = try w.run(i, tr) catch {
          case e: Exception => OpOutcome(0L, 1, Seq(s"operation $i threw ${e.toString.take(300)}"))
        }
        out(traced) += ((o, System.nanoTime() - t))
      }
      i += 1
    }
    val (wall, cpu) = (System.nanoTime() - t0, os.getProcessCpuTime - cpu0)
    def phase(traced: Boolean) = {
      val (o, ns) = out(traced).result().unzip
      Phase(o, ns, wall, cpu)
    }
    (phase(false), phase(true))
  }

  private def endToEnd(p: Phase, setupS: Double): Map[String, Double] = {
    val ok = p.outcomes.filter(_.failures.isEmpty).map(_.wallNanos / 1e6)
    Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> percentile(ok, 0.5),
      "op_p85_ms" -> percentile(ok, 0.85),
      "ops_per_s" -> ok.size / (ok.sum / 1e3))
  }

  private def perLayer(plain: Phase, traced: Phase, view: TraceView,
      decodeMbS: Double, encodeMbS: Double): Map[String, Double] = {
    val roots = view.spans.filter(s => s.name == "op" && s.parent == -1)
    val byOp = traced.outcomes.zipWithIndex.map(_.swap).toMap
    def named(root: Span, name: String) = view.descendants(root).filter(_.name == name)
    def selfS(root: Span, name: String) = named(root, name).map(view.selfNanos).sum / 1e9
    def kernelTasks(root: Span) =
      (named(root, "kernel.semanticDedupPairs") ++ named(root, "kernel.knnGraph")).flatMap(view.stagesOf)
    val perOp: Seq[Map[String, Double]] = roots.map { r =>
      val stages = view.stagesOf(r)
      val counts = byOp(r.op).counts
      val ktasks = kernelTasks(r).flatMap(_.taskNanos)
      val kstage = kernelTasks(r).filter(_.taskNanos.nonEmpty).sortBy(-_.taskNanos.max).headOption
      val voxels = counts.getOrElse("scan.voxels", 0.0)
      val candidates = counts.getOrElse("kernel.candidate_pairs", 0.0)
      Map(
        "n5.blocks_written" -> counts.getOrElse("n5.blocks_written", 0.0),
        "n5.bytes_written" -> counts.getOrElse("n5.bytes_written", 0.0),
        "n5.stored_bytes_ratio" -> counts.getOrElse("n5.stored_bytes_ratio", 0.0),
        "n5.rechunk_s" -> selfS(r, "n5.rechunk"),
        "n5.pyramid_s" -> selfS(r, "n5.buildPyramid"),
        "tiff.ingest_s" -> selfS(r, "tiff.ingestSlices"),
        "tiff.export_s" -> selfS(r, "tiff.exportSlices"),
        "scan.plan_ms" -> selfS(r, "scan.plan") * 1e3,
        "scan.tasks_per_query" -> (if (voxels > 0) stages.map(_.taskNanos.size).sum.toDouble else 0.0),
        "scan.rows_read_per_voxel" -> (if (voxels > 0) stages.map(_.recordsRead).sum / voxels else 0.0),
        "operators.cc_s" -> selfS(r, "operators.components"),
        "operators.cc_jobs" -> named(r, "operators.components").map(view.jobsOf).sum.toDouble,
        "kernel.train_s" -> selfS(r, "kernel.trainIvfCodebook"),
        "kernel.task_s" -> ktasks.sum / 1e9,
        "kernel.max_task_s" -> (if (ktasks.isEmpty) 0.0 else ktasks.max / 1e9),
        "kernel.task_skew" -> kstage.map(s => s.taskNanos.max / math.max(1.0, percentile(s.taskNanos.map(_.toDouble).toSeq, 0.5))).getOrElse(0.0),
        "kernel.candidate_pairs" -> candidates,
        "kernel.pairs_out" -> counts.getOrElse("kernel.pairs_out", 0.0),
        "kernel.useful_ratio" -> (if (candidates > 0) counts("kernel.pairs_out") / candidates else 0.0),
        "kernel.recall" -> counts.getOrElse("kernel.recall", 0.0),
        "exchange.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1e6,
        "exchange.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / 1e6,
        "exchange.spill_mb" -> stages.map(_.spill).sum / 1e6,
        "driver.serial_gap_s" -> view.serialGapNanos(r) / 1e9,
        "driver.jobs" -> view.jobsOf(r).toDouble,
        "driver.stages" -> stages.size.toDouble,
        "jvm.gc_s" -> r.gcMs / 1e3)
    }
    val m = perOp.head.keys.map(k => k -> percentile(perOp.map(_(k)), 0.5)).toMap
    val sum = (p: Phase) => p.outcomes.map(_.wallNanos.toDouble).sum
    m ++ Map(
      "n5.codec.decode_mb_s" -> decodeMbS,
      "n5.codec.encode_mb_s" -> encodeMbS,
      "jvm.peak_rss_mb" -> peakRssMb,
      "trace.overhead" -> (sum(traced) / sum(plain) - 1))
  }

  private def writeTrace(dir: Path, workload: String, seed: Long, run: java.util.Map[String, Any],
      p: Phase, view: TraceView, values: Map[String, Double]): Unit = {
    val spans = view.spans.map(s => ordered(
      "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> view.selfNanos(s), "gc_ms" -> s.gcMs,
      "jobs" -> view.jobsOf(s), "serial_gap_ns" -> view.serialGapNanos(s),
      "shuffle_write_bytes" -> view.stagesOf(s).map(_.shuffleWrite).sum,
      "shuffle_read_bytes" -> view.stagesOf(s).map(_.shuffleRead).sum,
      "spill_bytes" -> view.stagesOf(s).map(_.spill).sum))
    val selfByLayer = view.spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(view.selfNanos).sum / 1e9 }
    val out = dir.resolve("traces")
    Files.createDirectories(out)
    json.writerWithDefaultPrettyPrinter().writeValue(
      out.resolve(s"$workload-seed$seed.json").toFile,
      ordered("run" -> run,
        // traced operations' whole wall (checks included) and the share of
        // it that spans cover: what falls outside every span is unattributed
        "traced_wall_s" -> p.iterNanos.sum / 1e9,
        "span_coverage" -> view.spans.filter(_.parent == -1).map(_.wall).sum.toDouble / p.iterNanos.sum,
        "self_s_by_layer" -> ordered(selfByLayer.toSeq.sortBy(_._1): _*),
        "per_layer" -> ordered(values.toSeq.sortBy(_._1): _*),
        "spans" -> spans.asJava))
  }

  private def ordered(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Percentile q of xs, interpolating linearly between order statistics. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  private def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)

  /** Milliseconds one core takes to hash 32 MiB: a machine-speed probe, so
    * a run on a slowed or contended machine can be told apart afterwards.
    */
  private def calibrationMs(): Double = {
    val buf = new Array[Byte](1 << 20)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    for (_ <- 0 until 32) md.update(buf)
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  private def loadAverages(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).map(_.toDouble).toSeq
}
