package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.io.JsonArtifact

class JsonArtifactSpec extends SparkSuite {
  import spark.implicits._

  private val asOf = LocalDate.parse("2024-06-01")

  /** Nested struct, array, map, null, date, timestamp and decimal fields. */
  private def shapes = Seq(
      ("a@x", 1L, "2024-01-02", "2024-01-02 03:04:05.678", "12.340", Seq(1, 2), Map("k" -> 1.5), "s"),
      ("b\"q@x", 2L, null, "2023-12-31 23:59:59", null, Seq.empty[Int], Map.empty[String, Double], null),
      ("c@x", 3L, "1999-09-09", null, "-0.001", null, null, "t"))
    .toDF("guid", "n", "d", "ts", "dec", "arr", "m", "s")
    .select(col("guid"), col("n"), col("d").cast("date").as("d"),
      col("ts").cast("timestamp").as("ts"), col("dec").cast("decimal(10,3)").as("dec"),
      col("arr"), col("m"),
      struct(col("s"), struct(col("arr").as("inner"), col("d").cast("date").as("day")).as("deep"))
        .as("nested"))
    .orderBy("guid")

  private def body(path: String) = new String(JsonArtifact.readBzip2(path, spark.range(1).toDF()), "UTF-8")

  test("writeRows and writeKeyedObject keep the bytes of Dataset.toJSON lines") {
    val df = shapes
    val lines = df.toJSON.collect().toSeq
    assert(lines.exists(_.contains("\"nested\":{")) && lines.exists(!_.contains("\"d\":")),
      "fixture must carry nested and null fields")
    val dir = tmpDir("artifact-shapes")
    val (rows, _) = JsonArtifact.writeRows(df, dir, "rows.json", asOf)
    assert(body(rows) == lines.mkString("\n"))
    val keys = df.select("guid").as[String].collect().toSeq
    val (keyed, _) = JsonArtifact.writeKeyedObject(df, "guid", dir, "keyed.json", asOf)
    assert(body(keyed) == keys.zip(lines)
      .map { case (k, l) => "\"" + k.replace("\"", "\\\"") + "\": " + l }
      .mkString("{", ", ", "}"))
  }

  test("publish: several sinks from one job, each guarded against the ceiling") {
    // a file scan: over an in-memory Seq the optimizer folds the limit away
    val path = tmpDir("artifact-multi-in") + "/t"
    (1 to 5).map(i => (s"g$i", i)).toDF("guid", "n").write.parquet(path)
    val df = spark.read.parquet(path).orderBy("guid")
    val (odd, big) = (col("n") % 2 === 1, col("n") > 2)
    val dir = tmpDir("artifact-multi")
    val (ps, jobs) = countJobs(JsonArtifact.publish(df, dir, asOf,
      JsonArtifact.Sink("odd.json", when = Seq(odd)),
      JsonArtifact.Sink("odd_big.json", Some("guid"), Seq(odd, big))))
    assert(jobs == 1)
    assert(ps.map(p => p.fname -> p.rows) == Seq("odd.json" -> 3, "odd_big.json" -> 2))
    assert(body(ps(0).latest) ==
      """{"guid":"g1","n":1}
        |{"guid":"g3","n":3}
        |{"guid":"g5","n":5}""".stripMargin)
    assert(body(ps(1).dated) == """{"g3": {"guid":"g3","n":3}, "g5": {"guid":"g5","n":5}}""")
    withSQLConf("graft.artifact.maxRows" -> "2") {
      val e = intercept[IllegalArgumentException] {
        JsonArtifact.publish(df, tmpDir("artifact-multi-big"), asOf,
          JsonArtifact.Sink("odd_big2.json", when = Seq(odd, big)),
          JsonArtifact.Sink("odd2.json", when = Seq(odd)))
      }
      assert(e.getMessage.contains("'odd2.json'") &&
        e.getMessage.contains("small-artifact contract"), e.getMessage)
    }
  }
}
