package graft

import java.time.LocalDate

import graft.jobs.AmoWhitelist
import graft.schema._

class AmoWhitelistSpec extends SparkSuite {
  import spark.implicits._

  private val asOf = LocalDate.parse("2024-06-01")

  private def addon(
      guid: String,
      rating: Double = 4.0,
      created: String = "2024-01-01",
      files: Seq[AmoFile] = Seq(AmoFile(1, "all", "public", is_webextension = true)),
      promoted: String = null): AmoAddon =
    AmoAddon(
      guid = guid,
      categories = Map("firefox" -> Seq("other")),
      default_locale = "en-US",
      description = Map("en-US" -> "desc"),
      name = Map("en-US" -> guid),
      current_version = AmoVersion(files),
      ratings = AmoRatings(rating, rating, 10, 5),
      promoted = if (promoted == null) null else AmoPromoted(promoted),
      summary = Map("en-US" -> "sum"),
      tags = Seq("tag"),
      weekly_downloads = 1000,
      first_create_date = Some(created))

  private def whitelistGuids(addons: AmoAddon*): Set[String] = {
    val df = spark.createDataFrame(addons)
    df.where(AmoWhitelist.whitelistPred(asOf))
      .select("guid").as[String].collect().toSet
  }

  test("rating boundary: exactly 3.0 passes (>=), 2.99 fails") {
    // taar_amowhitelist.py:93-96
    assert(whitelistGuids(addon("a@x", rating = 3.0)) == Set("a@x"))
    assert(whitelistGuids(addon("b@x", rating = 2.99)).isEmpty)
  }

  test("age boundary: created exactly 60 days before asOf passes (<=), 59 fails") {
    // taar_amowhitelist.py:89-96 (MIN_AGE = 60)
    assert(whitelistGuids(addon("a@x", created = asOf.minusDays(60).toString)) == Set("a@x"))
    assert(whitelistGuids(addon("b@x", created = asOf.minusDays(59).toString)).isEmpty)
  }

  test("empty files array rejected") {
    // taar_amowhitelist.py:75-82
    assert(whitelistGuids(addon("a@x", files = Seq.empty)).isEmpty)
  }

  test("FIRST file must be webextension (files[0], not any-file)") {
    // taar_amowhitelist.py:84-86 vs the any-file loader check taar_utils.py:92
    val firstNo = Seq(AmoFile(1, "all", "public", is_webextension = false),
                      AmoFile(2, "all", "public", is_webextension = true))
    assert(whitelistGuids(addon("a@x", files = firstNo)).isEmpty)
    // F8 (any-file) would accept it:
    val df = spark.createDataFrame(Seq(addon("a@x", files = firstNo)))
    import org.apache.spark.sql.functions._
    val anyFile = df.where(exists(col("current_version.files"), f => f("is_webextension")))
    assert(anyFile.count() == 1)
  }

  test("pioneer guid rejected") {
    // taar_amowhitelist.py:71-73
    assert(whitelistGuids(addon(AmoWhitelist.PioneerGuid)).isEmpty)
  }

  test("featured predicate + three-way fan-out from one pass") {
    // taar_amowhitelist.py:100-110, 131-160
    val addons = Seq(
      addon("wl@x"),                                  // whitelist only
      addon("feat@x", rating = 2.0, promoted = "recommended"), // featured only
      addon("both@x", promoted = "recommended"),      // both
      addon("none@x", rating = 1.0))                  // neither
    val r = AmoWhitelist.transform(spark.createDataFrame(addons), asOf)
    assert(r.whitelist.select("guid").as[String].collect().toSet == Set("wl@x", "both@x"))
    assert(r.featured.select("guid").as[String].collect().toSet == Set("feat@x", "both@x"))
    assert(r.featuredWhitelist.select("guid").as[String].collect().toSet == Set("both@x"))
  }

  test("run: three artifacts from one action, equal to the Result frames, nothing cached") {
    val addons = Seq(
      addon("wl@x"), addon("wl2@x", rating = 3.0),
      addon("feat@x", rating = 2.0, promoted = "recommended"),
      addon("both@x", promoted = "recommended"),
      addon("none@x", rating = 1.0), addon(AmoWhitelist.PioneerGuid, promoted = "recommended"))
    val path = tmpDir("amowl-in") + "/dump"
    spark.createDataFrame(addons).write.parquet(path)
    val dump = spark.read.parquet(path)
    val out = tmpDir("amowl-out")
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val (r, jobs) = countJobs(AmoWhitelist.run(dump, out, asOf))
    assert(jobs <= 2, s"AmoWhitelist.run launched $jobs jobs")
    assert((sc.getPersistentRDDs.keySet -- persistedBefore).isEmpty, "run persisted an RDD")
    assert(dump.storageLevel == org.apache.spark.storage.StorageLevel.NONE, "run cached the dump")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def artifactGuids(fname: String): Set[String] = {
      val bytes = graft.io.JsonArtifact.readBzip2(s"$out/$fname.bz2", dump)
      val it = mapper.readTree(bytes).fieldNames()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSet
    }
    def guids(df: org.apache.spark.sql.DataFrame) = df.select("guid").as[String].collect().toSet
    assert(artifactGuids("whitelist_addons_database.json") == guids(r.whitelist))
    assert(artifactGuids("featured_addons_database.json") == guids(r.featured))
    assert(artifactGuids("featured_whitelist_addons.json") == guids(r.featuredWhitelist))
    assert(guids(r.whitelist) == Set("wl@x", "wl2@x", "both@x"))
    assert(guids(r.featured) == Set("feat@x", "both@x", AmoWhitelist.PioneerGuid))
    assert(guids(r.featuredWhitelist) == Set("both@x"))
  }
}
