package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.JsonArtifact

/** Q5 — taar_update_whitelist: editorial shortlist = validity filter →
  * distinct → sort → count guard → artifact
  * (taar_update_whitelist.py:44-90; SURVEY.md F9/A4/O1/F12). */
object UpdateWhitelist {

  val MinCount = 100

  class ShortWhitelistError(n: Int, min: Int)
    extends RuntimeException(s"whitelist too short: $n < $min")

  /** F9 + A4 + O1: valid guids, distinct, lexicographically sorted. */
  def transform(editorial: DataFrame, guidCol: String = "guid"): DataFrame =
    editorial
      .select(col(guidCol).as("guid"))
      .where(col("guid").isNotNull && !col("guid").isin("null", ""))
      .distinct()
      .orderBy("guid")

  /** Full job with the F12 floor guard (allowShort mirrors
    * `--allow-shortlist`, taar_update_whitelist.py:70-73) and the
    * OPT-IN remote liveness probe (F11, mirrors `--validate-guids`,
    * taar_update_whitelist.py:64-67): when `probe` is set, only guids it
    * accepts survive — executor-side fan-out, probe failures = dead. */
  def run(editorial: DataFrame, prefix: String, asOf: LocalDate,
      allowShort: Boolean = false, guidCol: String = "guid",
      probe: Option[String => Boolean] = None): DataFrame =
    publish(editorial, prefix, asOf, allowShort, guidCol, probe)._1

  /** [[run]], also returning the published artifact. The floor is checked
    * on the rows the one collect returned and those same rows are
    * published: no separate `count()` re-runs the job (or the probe). */
  def publish(editorial: DataFrame, prefix: String, asOf: LocalDate,
      allowShort: Boolean = false, guidCol: String = "guid",
      probe: Option[String => Boolean] = None): (DataFrame, JsonArtifact.Published) = {
    val valid = transform(editorial, guidCol)
    val result = probe match {
      case Some(p) =>
        graft.operators.Liveness.filterLiveDf(valid, "guid", p).orderBy("guid")
      case None => valid
    }
    val Seq(list) = JsonArtifact.collect(result, JsonArtifact.Sink("only_guids_top_200.json"))
    if (list.rows < MinCount && !allowShort) throw new ShortWhitelistError(list.rows, MinCount)
    (result, list.write(result, prefix, asOf))
  }
}
