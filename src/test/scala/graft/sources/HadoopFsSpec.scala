package graft.sources

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The shared Hadoop conf carries the session's `spark.hadoop.*` entries,
  * so N5, zarr and TIFF I/O see the same filesystem settings as Spark's
  * own file sources.
  */
class HadoopFsSpec extends AnyFunSuite {

  test("spark.hadoop.* entries reach the shared Hadoop conf, prefix stripped") {
    val sc = new SparkConf(loadDefaults = false)
      .set("spark.hadoop.graft.probe", "reached")
      .set("spark.graft.other", "not hadoop")
    val conf = HadoopFs.build(Some(sc))
    assert(conf.get("graft.probe") == "reached")
    assert(conf.get("spark.hadoop.graft.probe") == null)
    assert(conf.get("spark.graft.other") == null)
    // only spark.hadoop.* is copied: Hadoop's own I/O defaults stay
    assert(conf.get("io.file.buffer.size") ==
      HadoopFs.build(None).get("io.file.buffer.size"))
    assert(HadoopFs.build(None).get("graft.probe") == null)
  }
}
