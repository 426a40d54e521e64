package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.JsonArtifact

/** Q2 — taar_amodump: the AMO catalog scan + per-guid version enrichment
  * (taar_amodump.py:92-100).
  *
  * The HTTP fan-out (S1/S2) is an ingestion concern — in production a
  * driver-side fetch or DataSourceV2 produces two DataFrames; parity
  * testing feeds local JSON fixtures. The RELATIONAL substance is:
  *  - J1: left-outer enrichment join of `first_create_date` by guid
  *    (taar_amodump.py:192-209)
  *  - F10: keep only addons whose version fetch succeeded (inner-join
  *    effect via post-join null filter, taar_amodump.py:95-99)
  *
  * Scale: the versions side is per-chunk small in the reference (500/batch)
  * — broadcast; the catalog never shuffles.
  */
object AmoDump {

  /** addons: the typed catalog (schema graft.schema.AmoAddon minus
    * first_create_date); versions: (guid, first_create_date). */
  def transform(addons: DataFrame, versions: DataFrame): DataFrame =
    addons
      .join(broadcast(versions.select(col("guid"), col("first_create_date"))),
        Seq("guid"), "left_outer")
      .where(col("first_create_date").isNotNull)

  def run(addons: DataFrame, versions: DataFrame, prefix: String,
      asOf: LocalDate): DataFrame =
    publish(addons, versions, prefix, asOf)._1

  /** [[run]], also returning the published artifact. */
  def publish(addons: DataFrame, versions: DataFrame, prefix: String,
      asOf: LocalDate): (DataFrame, JsonArtifact.Published) = {
    val dump = transform(addons, versions).orderBy("guid")
    (dump, JsonArtifact.publish(dump, prefix, asOf,
      JsonArtifact.Sink("extended_addons_database.json", Some("guid"))).head)
  }
}
