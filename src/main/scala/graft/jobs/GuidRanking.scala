package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.JsonArtifact

/** Q4 — taar_lite_guid_ranking: per-guid install counts on one
  * date partition (taar_lite_guid_ranking.py:17-40; SURVEY.md A1+F3+K1).
  *
  * Scale: filter sits on the scan (partition pruning on a
  * date-partitioned table); the group-by is a partial+final hash agg. */
object GuidRanking {

  /** `SELECT addon_id, count(client_id) ... WHERE submission_date = d
    * GROUP BY addon_id`. */
  def transform(addons: DataFrame, guidCol: String, clientCol: String,
      dateCol: String, date: String): DataFrame =
    addons
      .where(to_date(col(dateCol)) === lit(date).cast("date"))
      .groupBy(col(guidCol).as("guid"))
      .agg(count(col(clientCol)).as("install_count"))

  def run(addons: DataFrame, guidCol: String, clientCol: String, dateCol: String,
      date: String, prefix: String, asOf: LocalDate): DataFrame =
    publish(addons, guidCol, clientCol, dateCol, date, prefix, asOf)._1

  /** [[run]], also returning the published artifact. */
  def publish(addons: DataFrame, guidCol: String, clientCol: String, dateCol: String,
      date: String, prefix: String, asOf: LocalDate): (DataFrame, JsonArtifact.Published) = {
    val ranking = transform(addons, guidCol, clientCol, dateCol, date).orderBy("guid")
    (ranking, JsonArtifact.publish(ranking, prefix, asOf,
      JsonArtifact.Sink("guid_install_ranking.json", Some("guid"))).head)
  }
}
