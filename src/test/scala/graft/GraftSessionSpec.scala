package graft

/** [[GraftSession]] is the one session builder: every suite's session
  * comes from it (SparkSuite, at 4 cores), so its conf is checked on the
  * live shared session. */
class GraftSessionSpec extends SparkSuite {

  test("the session carries graft's six settings") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("a graft SQL function resolves in it") {
    val r = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head()
    assert(r.getDouble(0) == 11.0)
  }
}
