package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.io.{JsonArtifact, KvSink}
import graft.jobs._

class JobsSpec extends SparkSuite {
  import spark.implicits._

  private val asOf = LocalDate.parse("2024-06-01")

  test("UpdateWhitelist: validity filter + distinct + sort + guard (F9/A4/O1/F12)") {
    val editorial = Seq("b@x", "a@x", "b@x", null, "null", "").toDF("guid")
    val out = UpdateWhitelist.transform(editorial).as[String].collect()
    assert(out.toSeq == Seq("a@x", "b@x")) // sorted, distinct, invalid dropped
    val err = intercept[UpdateWhitelist.ShortWhitelistError] {
      UpdateWhitelist.run(editorial, tmpDir("uw"), asOf)
    }
    assert(err.getMessage.contains("2 < 100"))
    // allowShort bypasses the guard (--allow-shortlist)
    val res = UpdateWhitelist.run(editorial, tmpDir("uw2"), asOf, allowShort = true)
    assert(res.count() == 2)
  }

  test("UpdateWhitelist: the floor is checked on the rows that are published") {
    // the probe accepts each guid only on its first call: a job that
    // evaluates the list twice (once for the floor, once for the artifact)
    // passes the floor on one set and publishes another
    FirstCallProbe.calls.clear()
    val guids = (0 until 150).map(i => f"g$i%03d@x")
    val dir = tmpDir("uw-probe")
    UpdateWhitelist.run(guids.toDF("guid"), dir, asOf, probe = Some(FirstCallProbe.probe))
    val lines = new String(JsonArtifact.readBzip2(s"$dir/only_guids_top_200.json.bz2",
      spark.range(1).toDF()), "UTF-8").linesIterator.toSeq
    assert(lines.size == guids.size, s"published ${lines.size} guids; the floor passed on ${guids.size}")
    assert(lines == guids.map(g => s"""{"guid":"$g"}"""))
    assert(FirstCallProbe.calls.values().stream().allMatch(_.get == 1),
      "a guid was probed more than once")
  }

  test("GuidRanking: date-partition filter + group-by count (A1/F3)") {
    val addons = Seq(
      ("2024-06-01", "g1", "c1"), ("2024-06-01", "g1", "c2"),
      ("2024-06-01", "g2", "c1"), ("2024-06-02", "g1", "c3"))
      .toDF("submission_date", "addon_id", "client_id")
    val out = GuidRanking.transform(addons, "addon_id", "client_id",
        "submission_date", "2024-06-01")
      .orderBy("guid").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("g1", 2L), ("g2", 1L)))
  }

  test("AmoDump: left-outer enrichment + F10 inner-filter (J1/J2/F10)") {
    val addons = Seq(("a@x", 10L), ("b@x", 20L), ("c@x", 30L)).toDF("guid", "weekly_downloads")
    val versions = Seq(("a@x", "2020-01-01"), ("c@x", "2021-05-05")).toDF("guid", "first_create_date")
    val out = AmoDump.transform(addons, versions).orderBy("guid").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a@x", "c@x")) // b@x dropped (no version)
    assert(out.map(r => r.getAs[String]("first_create_date")).toSeq ==
      Seq("2020-01-01", "2021-05-05"))
  }

  test("JsonArtifact: dual write, latest == dated snapshot bytes, bz2 roundtrip (K1)") {
    val df = Seq(("a@x", 1L), ("b@x", 2L)).toDF("guid", "n").orderBy("guid")
    val dir = tmpDir("artifact")
    val (latest, dated) = JsonArtifact.writeKeyedObject(df, "guid", dir, "test.json", asOf)
    assert(latest.endsWith("test.json.bz2") && dated.endsWith("test.json.20240601.bz2"))
    val lb = JsonArtifact.readBzip2(latest, df)
    val db = JsonArtifact.readBzip2(dated, df)
    assert(java.util.Arrays.equals(lb, db))
    val body = new String(lb, "UTF-8")
    assert(body == """{"a@x": {"guid":"a@x","n":1}, "b@x": {"guid":"b@x","n":2}}""")
  }

  test("JsonArtifact: oversized frame fails the small-artifact contract, naming the artifact") {
    val df = Seq(("a@x", 1L), ("b@x", 2L), ("c@x", 3L)).toDF("guid", "n").orderBy("guid")
    val dir = tmpDir("artifact-big")
    spark.conf.set("graft.artifact.maxRows", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        JsonArtifact.writeRows(df, dir, "too_big.json", asOf)
      }
      assert(e.getMessage.contains("too_big.json") &&
        e.getMessage.contains("small-artifact contract"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        JsonArtifact.writeKeyedObject(df, "guid", dir, "too_big2.json", asOf)
      }
      assert(e2.getMessage.contains("too_big2.json"), e2.getMessage)
      // at exactly the ceiling the write still succeeds
      spark.conf.set("graft.artifact.maxRows", "3")
      val (latest, _) = JsonArtifact.writeRows(df, dir, "ok.json", asOf)
      assert(new String(JsonArtifact.readBzip2(latest, df), "UTF-8")
        .linesIterator.size == 3)
    } finally spark.conf.unset("graft.artifact.maxRows")
  }

  test("Cli.readTable: dispatch on the FINAL segment's extension, not substring") {
    // a parquet directory whose NAME embeds ".json" must read as parquet
    val dir = tmpDir("cli") + "/my.json.snapshots"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    val back = graft.cli.Cli.readTable(spark, dir)
    assert(back.columns.sorted.toSeq == Seq("id", "s") && back.count() == 2)
    // and a real .json file still reads as JSON
    val jdir = tmpDir("cli-json")
    val jpath = jdir + "/t.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(jpath),
      """[{"id": 1, "s": "a"}]""".getBytes("UTF-8"))
    val j = graft.cli.Cli.readTable(spark, jpath)
    assert(j.count() == 1 && j.columns.contains("s"))
  }

  test("IngestCli: the state-ingest trio has a production entry point — " +
      "occ (with --append) and graph stages dispatch and report") {
    import graft.jobs.{GraphIngest, OccIngest}
    import graft.queries.{DedupQueries, GraphQueries}
    OccIngest.drop(spark, sf0001)
    GraphIngest.drop(spark, sf0001)
    DedupQueries.clearMemos(spark)
    GraphQueries.clearMemos(spark)
    try {
      // occ ingest + an appendBatch routed through --append (new docs
      // staged as a parquet table, the CLI's transport)
      val occOut = graft.cli.IngestCli.run(spark,
        Map("stage" -> "occ", "dir" -> sf0001))
      assert(occOut.contains(OccIngest.occTable(sf0001)), occOut)
      val baseRows = spark.table(OccIngest.occTable(sf0001)).count()
      val batchPath = tmpDir("ingest_cli") + "/new_docs.parquet"
      Tables.documents(spark, sf0001)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
        .limit(5).write.parquet(batchPath)
      graft.cli.IngestCli.run(spark,
        Map("stage" -> "occ", "dir" -> sf0001, "append" -> batchPath))
      assert(spark.table(OccIngest.occTable(sf0001)).count() > baseRows)

      val graphOut = graft.cli.IngestCli.run(spark,
        Map("stage" -> "graph", "dir" -> sf0001))
      assert(graphOut.contains(GraphIngest.edgesTable(sf0001)), graphOut)
      assert(spark.catalog.tableExists(GraphIngest.histTable(sf0001)))

      // the graph family's DURABLE write path: init a consistent live
      // pair, advance it by one mirrored batch, heal is a no-op after
      val livePrefix = "ingest_cli_live"
      graft.cli.IngestCli.run(spark, Map("stage" -> "graph-init",
        "dir" -> sf0001, "prefix" -> livePrefix))
      assert(spark.catalog.tableExists(s"${livePrefix}_edges"))
      val gBatch = tmpDir("ingest_cli") + "/day.parquet"
      Seq((900001L, 900002L, 1L), (900002L, 900001L, 1L))
        .toDF("u", "v", "w").write.parquet(gBatch)
      val advOut = graft.cli.IngestCli.run(spark, Map("stage" -> "graph-advance",
        "prefix" -> livePrefix, "batch" -> gBatch, "batch-id" -> "d1"))
      assert(advOut.contains("batch=d1"), advOut)
      assert(spark.table(s"${livePrefix}_edges")
        .where($"u" === 900001L).count() == 1)
      graft.cli.IngestCli.run(spark,
        Map("stage" -> "graph-heal", "prefix" -> livePrefix))
      assert(!spark.catalog.tableExists(s"${livePrefix}_pending"))
      Seq("_edges", "_lpahist", "_lpahist__next", "_meta", "_pending")
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $livePrefix$sfx"))

      val e = intercept[RuntimeException] {
        graft.cli.IngestCli.run(spark, Map("stage" -> "nope", "dir" -> sf0001))
      }
      assert(e.getMessage.contains("unknown --stage"))
    } finally {
      OccIngest.drop(spark, sf0001)
      GraphIngest.drop(spark, sf0001)
      DedupQueries.clearMemos(spark)
      GraphQueries.clearMemos(spark)
    }
  }

  test("KvSink: sha256 row keys, zlib payload roundtrip, opt-out delete (K4/K5/P5/P6/J3)") {
    val profiles = Seq(("client1", "de", 5L), ("client2", "en", 7L))
      .toDF("client_id", "locale", "total_uri")
    val kvPath = tmpDir("kv") + "/kv"
    KvSink.write(spark, profiles, "client_id", kvPath)

    val kv = spark.read.parquet(kvPath)
    assert(kv.columns.toSeq == Seq("key", "payload"))
    // key = hex sha256 (taar_utils.py:110-116)
    val expectedKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest("client1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(kv.select("key").as[String].collect().toSet.contains(expectedKey))
    // payload decodes back to the full-row JSON, with the id PSEUDONYMIZED
    // (the reference hashes client_id before serializing the payload,
    // taar_profile_bigtable.py:304-327 — the raw id never reaches the store)
    val decoded = KvSink.decodePayload(spark, kv)
      .where(col("key") === expectedKey).select("json").as[String].head()
    assert(decoded == s"""{"client_id":"$expectedKey","locale":"de","total_uri":5}""")
    assert(!decoded.contains("client1"))

    // K5: delete client1 via opt-out anti-join
    KvSink.deleteOptOuts(spark, kvPath, Seq("client1").toDF("client_id"), "client_id")
    val after = spark.read.parquet(kvPath)
    assert(after.count() == 1)
    assert(!after.select("key").as[String].collect().contains(expectedKey))
  }

  test("ProfileEtl extract: P1 rename + P2 try_cast + F1 size>0 + F3 date (Q1 stage 1)") {
    val clients = Seq(
      ("2024-06-01", "c1", "Berlin", Some(2.5), "de", "Linux", Seq("a@x"), Some(3.7)),
      ("2024-06-01", "c2", "Paris", Some(1.0), "fr", "Mac", Seq.empty[String], None), // F1: no addons
      ("2024-06-02", "c3", "Rome", Some(4.0), "it", "Win", Seq("b@x"), Some(1.0)),    // F3: wrong date
      ("2024-06-01", "c4", "Oslo", None, "no", "Linux", Seq("c@x"), None))            // nulls → 0
      .toDF("submission_date", "client_id", "city", "subsession_hours_sum",
        "locale", "os", "active_addons", "places_bookmarks_count_mean")
      .withColumn("scalar_parent_browser_engagement_tab_open_event_count_sum", lit(null).cast("long"))
      .withColumn("scalar_parent_browser_engagement_total_uri_count_sum", lit(7L))
      .withColumn("scalar_parent_browser_engagement_unique_domains_count_mean", lit(2L))
    val out = ProfileEtl.extract(clients, "2024-06-01", sampleRate = 1.0)
    val rows = out.orderBy("client_id").collect()
    assert(rows.length == 2)
    val r = rows.head
    assert(r.getAs[String]("client_id") == "c1")
    assert(r.getAs[String]("geo_city") == "Berlin")
    assert(r.getAs[Long]("subsession_length") == 9000L) // 2.5h * 3600
    assert(r.getAs[Long]("tab_open_count") == 0L)       // P3 null default
    assert(r.getAs[Long]("total_uri") == 7L)
    assert(r.getAs[Long]("bookmark_count") == 3L)       // int(3.7) truncates, ref int() coercion
    // the reference's int(x or 0): nulls land as 0, never absent from the payload
    val c4 = rows(1)
    assert(c4.getAs[Long]("subsession_length") == 0L)
    assert(c4.getAs[Long]("bookmark_count") == 0L)
    // and none of the int-coerced fields can go missing from the payload JSON
    assert(out.schema("subsession_length").dataType.typeName == "long")
  }

  test("LocaleTopK: rank per locale with deterministic ties") {
    val installs = Seq(
      ("de", "g1"), ("de", "g1"), ("de", "g2"), ("de", "g3"), ("de", "g3"),
      ("fr", "g9")).toDF("locale", "guid")
    val out = LocaleTopK.transform(installs, "locale", "guid", k = 2)
      .orderBy("locale", "rank").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSeq ==
      Seq(("de", "g1", 1), ("de", "g3", 2), ("fr", "g9", 1)))
  }

  test("Coinstall: pair counts with a.guid < b.guid") {
    val ca = Seq(("c1", "a"), ("c1", "b"), ("c1", "c"), ("c2", "a"), ("c2", "b"))
      .toDF("client", "guid")
    val out = Coinstall.transform(ca, "client", "guid")
      .orderBy("guid_a", "guid_b").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L)))
  }
}

/** A liveness probe that accepts each guid only on its first call. The
  * state lives in this JVM-wide object, which local-mode tasks share. */
object FirstCallProbe {
  val calls = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]

  val probe: String => Boolean = g =>
    calls.computeIfAbsent(g, _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet() == 1
}
