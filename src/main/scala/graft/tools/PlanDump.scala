package graft.tools

/** Dump `.explain("formatted")` for named queries — the round plan
  * artifacts under plans/ — in a [[graft.GraftSession]] (the session
  * every main uses). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.foreach { q =>
      println(s"===== $q =====")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
