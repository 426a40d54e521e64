package graft.tools

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.io.{JsonArtifact, KvSink}
import graft.jobs._
import graft.streaming.EventStream

/** End-to-end smoke driver for the TAAR-parity pipeline pieces, against
  * real testdata + a temp output dir. Prints one OK line per stage —
  * the runnable counterpart of the ScalaTest suites, used for manual
  * verification (`sbt "runMain graft.tools.E2eDemo"`). */
object E2eDemo {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val asOf = LocalDate.parse("2026-08-12")
    val spark = graft.GraftSession.builder().getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")

    // GuidRanking over the events table (event_type as the "guid")
    val events = graft.Tables.events(spark, sf)
      .withColumn("submission_date", to_date($"ts"))
    val ranking = GuidRanking.run(events, "event_type", "user_id",
      "submission_date", "2024-01-15", s"$out/ranking", asOf)
    println(s"[demo] OK guid_ranking rows=${ranking.count()} artifact=" +
      new String(JsonArtifact.readBzip2(s"$out/ranking/guid_install_ranking.json.bz2", ranking), "UTF-8").take(120))

    // ProfileEtl: synthesize a clients frame from customer + KV + delete
    val clients = graft.Tables.customer(spark, sf).select(
      $"c_custkey".cast("string").as("client_id"),
      $"c_name".as("city"),
      lit(1.5).as("subsession_hours_sum"),
      lit("en-US").as("locale"), lit("Linux").as("os"),
      array(lit("a@x"), lit("b@x")).as("active_addons"),
      lit(3L).as("places_bookmarks_count_mean"),
      lit(null).cast("long").as("scalar_parent_browser_engagement_tab_open_event_count_sum"),
      lit(9L).as("scalar_parent_browser_engagement_total_uri_count_sum"),
      lit(4L).as("scalar_parent_browser_engagement_unique_domains_count_mean"),
      lit("2024-06-01").as("submission_date"))
    val profiles = ProfileEtl.extract(clients, "2024-06-01", sampleRate = 1.0)
    val kvPath = s"$out/kv"
    ProfileEtl.loadKv(spark, profiles, kvPath)
    val kvBefore = spark.read.parquet(kvPath).count()
    val deletions = profiles.limit(10).select($"client_id",
      lit("2024-06-01").cast("timestamp").as("submission_timestamp"))
    ProfileEtl.deleteOptOuts(spark, kvPath, deletions, "2024-06-01")
    val kvAfter = spark.read.parquet(kvPath).count()
    val sample = KvSink.decodePayload(spark, spark.read.parquet(kvPath)).head()
    println(s"[demo] OK profile_etl kv_before=$kvBefore kv_after=$kvAfter " +
      s"key=${sample.getString(0).take(12)}… payload=${sample.getString(1).take(60)}")

    // AmoWhitelist over a tiny in-memory dump
    val dump = spark.createDataFrame(Seq(
      graft.schema.AmoAddon("good@x", Map(), "en-US", Map(), Map("en-US" -> "Good"),
        graft.schema.AmoVersion(Seq(graft.schema.AmoFile(1, "all", "public", true))),
        graft.schema.AmoRatings(4.5, 4.4, 100, 50), graft.schema.AmoPromoted("recommended"),
        Map(), Seq(), 5000, Some("2020-01-01")),
      graft.schema.AmoAddon("young@x", Map(), "en-US", Map(), Map("en-US" -> "Too new"),
        graft.schema.AmoVersion(Seq(graft.schema.AmoFile(2, "all", "public", true))),
        graft.schema.AmoRatings(5.0, 4.9, 10, 5), graft.schema.AmoPromoted(null),
        Map(), Seq(), 100, Some(asOf.minusDays(10).toString))))
    val wl = AmoWhitelist.run(dump, s"$out/whitelist", asOf)
    println(s"[demo] OK amo_whitelist wl=${wl.whitelist.count()} feat=${wl.featured.count()} " +
      "artifact=" + new String(JsonArtifact.readBzip2(
        s"$out/whitelist/whitelist_addons_database.json.bz2", dump), "UTF-8").take(80))

    // UpdateWhitelist guard trips on a short list
    try { UpdateWhitelist.run(Seq("a@x").toDF("guid"), s"$out/uw", asOf); println("[demo] BAD no guard") }
    catch { case e: UpdateWhitelist.ShortWhitelistError => println(s"[demo] OK shortlist_guard: ${e.getMessage}") }

    // Paginated-source ingestion (S1): pages → raw rows → typed marshal
    val pagesDir = s"$out/pages"
    new java.io.File(pagesDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$pagesDir/page-0.jsonl"),
      "{\"guid\":\"p0@x\",\"weekly_downloads\":10}\n{\"guid\":\"p1@x\",\"weekly_downloads\":20}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$pagesDir/page-1.jsonl"),
      "{\"guid\":\"p2@x\",\"weekly_downloads\":30,\"junk\":1}")
    val paged = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", pagesDir).load()
    val typed = paged.select(from_json($"value",
        org.apache.spark.sql.types.StructType.fromDDL("guid STRING, weekly_downloads BIGINT")).as("r"))
      .select($"r.*")
    println(s"[demo] OK paged_source partitions=${paged.rdd.getNumPartitions} " +
      s"rows=${typed.count()} guids=${typed.orderBy("guid").select("guid").as[String].collect().mkString(",")}")

    // Streaming rollup over a staged drop-dir
    val streamDir = s"$out/events_stream"
    new java.io.File(streamDir).mkdirs()
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val rollup = EventStream.runBounded(spark, streamDir, "demo_rollup")
    println(s"[demo] OK streaming_rollup windows=${rollup.count()}")

    // Stateful per-user running totals (mapGroupsWithState)
    val stateCounts = graft.streaming.StatefulCounts.runBounded(spark, streamDir, "demo_state")
    val batchUsers = graft.Tables.events(spark, sf).select($"user_id").distinct().count()
    println(s"[demo] OK stateful_counts users=${stateCounts.count()} (batch distinct=$batchUsers)")

    // taar_similarity artifacts: donors + likelihood-ratio curves
    val sim = graft.jobs.SimilarityJob.run(
      graft.Tables.embeddings(spark, sf), s"$out/similarity", asOf)
    println(s"[demo] OK similarity donors=${sim.donors.count()} " +
      "lr=" + new String(JsonArtifact.readBzip2(
        s"$out/similarity/lr_curves.json.bz2", sim.lrCurves), "UTF-8").linesIterator
        .take(2).mkString(" / "))

    println(s"[demo] DONE out=$out")
    spark.stop()
  }
}
