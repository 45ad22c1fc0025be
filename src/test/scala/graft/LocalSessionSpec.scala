package graft

/** The harness conf set: Bench, Verify, Profile, Explain and the specs all
  * get their session from [[LocalSession]], so these six confs are what
  * every one of them runs under.
  */
class LocalSessionSpec extends SparkSpec {

  test("the shared spec session carries LocalSession's six confs") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
