package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.JsonArtifact

/** Q3 — taar_amowhitelist: one pass over the addon dump fans out into
  * three filtered whitelist artifacts (taar_amowhitelist.py:116-193).
  *
  * Predicates (SURVEY.md §2.4 F5/F6/F7), with the reference's boundary
  * semantics preserved exactly:
  *  - rating >= 3.0 passes (`>=`, taar_amowhitelist.py:93-96)
  *  - created exactly `minAgeDays` ago passes (`<=`, :89-96)
  *  - empty files array rejected (:75-82)
  *  - FIRST file must be a webextension (files[0], :84-86 — deliberately
  *    different from the any-file loader check F8, taar_utils.py:92)
  *  - pioneer guid rejected (:71-73)
  *
  * Scale: one action for all three artifacts. Catalyst does not share
  * scans across actions, so instead of caching the dump and running one
  * sorted collect per artifact, [[publish]] sorts the dump once, carries
  * the two predicates along as flag columns, and splits the collected
  * rows into the three artifacts on the driver (`JsonArtifact.publish`).
  * Nothing is cached, so nothing is left for the caller to free.
  */
object AmoWhitelist {

  val MinRating = 3.0
  val MinAgeDays = 60
  val PioneerGuid = "pioneer-opt-in@mozilla.org"

  /** F6 — the whitelist conjunction, parameterized by an explicit asOf
    * date (the reference uses wall-clock `today`; injected for testability
    * per SURVEY.md §7.4). */
  def whitelistPred(asOf: LocalDate): Column = {
    val files = col("current_version.files")
    (col("guid") =!= PioneerGuid) &&
      (size(files) > 0) &&
      element_at(files, 1)("is_webextension") &&
      (col("ratings.average") >= MinRating) &&
      (to_date(col("first_create_date")) <=
        lit(asOf.minusDays(MinAgeDays).toString).cast("date"))
  }

  /** F5 — promoted/featured. */
  val featuredPred: Column = col("promoted.category") === "recommended"

  case class Result(whitelist: DataFrame, featured: DataFrame, featuredWhitelist: DataFrame)

  /** A3 — the three-way fan-out as lazy frames over the dump. */
  def transform(dump: DataFrame, asOf: LocalDate): Result =
    Result(
      whitelist = dump.where(whitelistPred(asOf)),
      featured = dump.where(featuredPred),
      featuredWhitelist = dump.where(whitelistPred(asOf) && featuredPred))

  /** Full job: transform + three dual-versioned artifacts (K1). */
  def run(dump: DataFrame, prefix: String, asOf: LocalDate): Result =
    publish(dump, prefix, asOf)._1

  /** [[run]], also returning the three published artifacts (whitelist,
    * featured, featured whitelist), all from ONE sorted collect. */
  def publish(dump: DataFrame, prefix: String,
      asOf: LocalDate): (Result, Seq[JsonArtifact.Published]) = {
    val (wl, ft) = (whitelistPred(asOf), featuredPred)
    def sink(fname: String, when: Column*) = JsonArtifact.Sink(fname, Some("guid"), when)
    (transform(dump, asOf), JsonArtifact.publish(dump.orderBy("guid"), prefix, asOf,
      sink("whitelist_addons_database.json", wl),
      sink("featured_addons_database.json", ft),
      sink("featured_whitelist_addons.json", wl, ft)))
  }
}
