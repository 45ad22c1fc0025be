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
  *
  * It also holds the `file://` publish path that every whole-file write
  * shares: blocks, shards, metadata, TIFF pages and catalog markers.
  */
object HadoopFs {
  val conf: Configuration = build(Option(SparkEnv.get).map(_.conf))
  def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** java.nio fast path for `file://` (r20): the Hadoop local-FS stack
    * (ProxyLocalFileSystem → ChecksumFileSystem) costs ~8 ms per create
    * (checksum sibling + permission round-trips) and ~27 ms per
    * FileContext rename (measured on this machine), so a 58-chunk zarr
    * write spent 2.2 s of its 2.7 s in filesystem overhead. For the
    * local scheme the same create-temp → write → set-mtime → atomic
    * rename sequence runs through java.nio (~0.14 ms for write+move)
    * with identical semantics: Files.move(ATOMIC_MOVE) is the POSIX
    * rename(2) the Hadoop path used, overwrite included. Non-file
    * schemes (HDFS, object stores) keep the Hadoop path untouched.
    */
  def localPath(fs: FileSystem, p: Path): java.nio.file.Path =
    if ("file" == fs.getScheme) java.nio.file.Paths.get(p.toUri.getPath)
    else null

  /** Publish a fully written `file://` temp over `dest`: stamp the mtime
    * at PUBLISH time (not temp-close time) so the streaming source's
    * watermark can never advance past a file that is not yet visible,
    * then atomically rename. A `.<name>.crc` sibling left by an earlier
    * Hadoop write describes the bytes being replaced, and reads go
    * through the checksummed `fs.open`, so it is deleted first: a reader
    * then sees old or new bytes without a checksum, never new bytes
    * under a stale one.
    */
  def publishLocal(tmp: java.nio.file.Path, dest: java.nio.file.Path): Unit = {
    java.nio.file.Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    java.nio.file.Files.deleteIfExists(
      dest.resolveSibling(s".${dest.getFileName}.crc"))
    java.nio.file.Files.move(tmp, dest,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write `bytes` to a unique temp beside the local file `dest` and
    * publish it with [[publishLocal]]. The temp is per call, so concurrent
    * (speculative) writers never share one, and it is deleted when the
    * write fails.
    */
  def writeLocal(dest: java.nio.file.Path, bytes: Array[Byte]): Unit = {
    java.nio.file.Files.createDirectories(dest.getParent)
    val tmp = dest.resolveSibling(
      s".${dest.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    try {
      java.nio.file.Files.write(tmp, bytes)
      publishLocal(tmp, dest)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Write `bytes` as the whole file `p`: atomically through
    * [[writeLocal]] on `file://`, with a Hadoop overwrite-create on other
    * schemes.
    */
  def writeFile(p: Path, bytes: Array[Byte]): Unit = {
    val f = fs(p)
    val lp = localPath(f, p)
    if (lp != null) writeLocal(lp, bytes)
    else {
      f.mkdirs(p.getParent)
      val out = f.create(p, true)
      try out.write(bytes) finally out.close()
    }
  }

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
