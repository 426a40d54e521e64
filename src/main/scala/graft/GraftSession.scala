package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows graft's session conf. Every main (Bench,
  * Verify, the CLIs, the tools) and the test suites build their session
  * from [[builder]]:
  *
  *  - [[GraftExtensions]] registered through the string-form
  *    `spark.sql.extensions` — the cluster deployment path;
  *  - master `local[cores]`, unless `SPARK_GRAFT_MASTER` names another
  *    (a deployment setting);
  *  - shuffle partitions = cores;
  *  - UTC session time zone, AQE on, UI off.
  *
  * A caller adds its own settings (app name, reader options) to the
  * builder it gets back, then calls `getOrCreate()`. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, otherwise every core the JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
}
