package graft
import org.apache.spark.sql.SparkSession

/** The one local-session bootstrap shared by the mains and the specs:
  * `local[cpus]` with `cpus` shuffle partitions, UTC session time,
  * nanosecond parquet timestamps read as longs (older corpora write
  * `events.ts` that way; `Tables.load` normalizes both shapes),
  * [[GraftExtensions]] installed, no UI, log level WARN. `Cli` builds its
  * own session because under spark-submit it must not set the master, the
  * UI or the partition count.
  */
object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
