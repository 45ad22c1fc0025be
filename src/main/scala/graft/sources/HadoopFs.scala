package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The JVM's one Hadoop `Configuration`, behind every graft filesystem
  * access on the driver and on executors. The first lookup on a fresh
  * `Configuration` re-parses the default resources (tens of ms), so a
  * per-call instance put that cost on every metadata read, grid walk and
  * block reader. Loads `core-default.xml` plus any `core-site.xml` on the
  * classpath; session `spark.hadoop.*` settings are not applied.
  * Read-only: every caller shares it, so nothing may `set` on it.
  */
object HadoopFs {
  val conf: Configuration = new Configuration()
  def fs(p: Path): FileSystem = p.getFileSystem(conf)
}
