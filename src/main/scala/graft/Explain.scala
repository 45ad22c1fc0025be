package graft
/** Plan audit helper: dump formatted physical plans for selected queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"===== $name =====")
      Queries.byName(name).build(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
