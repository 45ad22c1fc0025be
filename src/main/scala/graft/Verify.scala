package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name filter for local iteration
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    // Per-query status recorded for the end-of-run manifest: an empty or
    // truncated artifact must be distinguishable from a run that never
    // happened (round 17's CORRECTNESS json arrived as `{}` while the
    // engine was green — the manifest is the flake-evidence).
    val manifest = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // stderr marker BEFORE each query: any Spark warning in the log
      // (HintErrorLogger, WindowExec) attributes to the query whose
      // marker precedes it (r17's attribution trick, made permanent)
      System.err.println(s"[verify] running $name")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // parquet row count is footer metadata — cheap to read back
        val rows = spark.read.parquet(s"$outDir/$name").count()
        manifest += (name -> s"ok rows=$rows path=$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        manifest += (name -> s"error ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest LAST and ATOMICALLY (tmp + move): its presence certifies
    // the run reached the end; its contents pin what each query produced.
    val nOk = manifest.valuesIterator.count(_.startsWith("ok"))
    val mJson = (manifest.toSeq.map { case (k, v) => s"${q(k)}: ${q(v)}" } ++
      Seq(s"${q("_queries")}: ${manifest.size}", s"${q("_ok")}: $nOk"))
      .mkString("{", ",", "}")
    val tmp = Paths.get(s"$outDir/_manifest.json.tmp")
    Files.writeString(tmp, mJson)
    Files.move(tmp, Paths.get(s"$outDir/_manifest.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    spark.stop()
  }
}
