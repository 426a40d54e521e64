package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated substring filter for fast
    // single-query iteration (local use; the driver passes 2 args)
    val only: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(',').toSeq
                             n => pats.exists(n.contains) }
      else _ => true
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      // the declared query verbatim (round-19: the harness-level
      // sortShared wrap moved into the query layer, so the oracle now
      // exercises exactly the plan every consumer gets)
      try fn(spark, sfDir)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per query (ADVICE r18): checkpoint blocks from one query
      // must not accumulate across the other 162 — Bench's per-rep
      // discipline, minus the memoized shared frames
      SparkEntry.releaseQueryState(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    spark.stop()
  }

  /** SparkEntry.oracleSql as one JSON object string. JSON string escape
    * covers backslash, quote, and ALL control chars (<0x20) — a tab or
    * CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness. Shared by
    * [[main]]'s dump and OracleTypeSweepSpec's gating sweep (VERDICT r16
    * item 7). */
  def oracleSqlJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
