package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{SparkConf, SparkEnv}

/** The JVM's one Hadoop `Configuration`, behind every graft filesystem
  * access on the driver and on executors. The first lookup on a fresh
  * `Configuration` re-parses the default resources (tens of ms), so a
  * per-call instance put that cost on every metadata read, grid walk and
  * block reader. Loads `core-default.xml` plus any `core-site.xml` on the
  * classpath, then the `spark.hadoop.*` entries of the Spark conf (prefix
  * stripped) when a `SparkEnv` exists at first use, as Spark's own file
  * sources see them. It is built once per JVM, so later changes to those
  * entries do not reach it. Read-only: every caller shares it, so nothing
  * may `set` on it.
  */
object HadoopFs {
  val conf: Configuration = build(Option(SparkEnv.get).map(_.conf))
  def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** The shared conf's recipe: the Hadoop defaults plus `spark.hadoop.*`.
    * Only those entries are copied, not Spark's other Hadoop defaults, so
    * block I/O settings such as `io.file.buffer.size` stay Hadoop's.
    */
  private[sources] def build(spark: Option[SparkConf]): Configuration = {
    val c = new Configuration()
    for (sc <- spark; (k, v) <- sc.getAllWithPrefix("spark.hadoop.")) c.set(k, v)
    c
  }
}
