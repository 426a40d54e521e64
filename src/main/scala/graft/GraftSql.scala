package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-text surface: register the testdata tables as temp views and run
  * queries as ANSI SQL through Catalyst's parser — the `spark.sql(...)`
  * face of the same engine. Every DataFrame operator in this library has
  * an equivalent here because both lower to the same logical plans; the
  * graft functions (`vec_dot`, `md5_prefix64`, `zlib_compress`, ...) are
  * the ones [[GraftExtensions]] installs at session build.
  */
object GraftSql {

  /** Register every table in `sfDir` as a temp view named as in
    * TESTDATA.md. */
  def register(s: SparkSession, sfDir: String): Unit = {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(s, sfDir)
               else Tables.table(s, sfDir, n)
      df.createOrReplaceTempView(n)
    }
  }

  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    register(spark, sfDir)
    spark.sql(query)
  }
}
