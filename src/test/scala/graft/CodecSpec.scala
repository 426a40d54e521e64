package graft

import org.apache.spark.sql.functions._

import graft.functions.Codec
import graft.io.KvSink

/** Pluggable KV payload codecs (zlib/gzip/zstd/none). */
class CodecSpec extends SparkSuite {
  import spark.implicits._

  private val sample = (0 until 50).map { i =>
    (i.toLong, ("the quick brown fox " * (i % 7 + 1)) + i)
  }

  test("every codec round-trips through the native expressions, distributed") {
    val df = sample.toDF("id", "s")
    for (codec <- Codec.Names) {
      val out = df.select($"s",
        Codec.decompressCol(Codec.compressCol($"s".cast("binary"), codec), codec)
          .cast("string").as("rt"))
      assert(out.where($"s" =!= $"rt").isEmpty, s"codec $codec failed round-trip")
    }
  }

  test("compression is deterministic and actually compresses repetitive payloads") {
    val payload = ("repetitive payload " * 64).getBytes("UTF-8")
    for (codec <- Seq("zlib", "gzip", "zstd")) {
      val a = Codec.compress(payload, codec)
      val b = Codec.compress(payload, codec)
      assert(java.util.Arrays.equals(a, b), s"$codec output not byte-stable")
      assert(a.length < payload.length / 2, s"$codec did not compress")
      assert(java.util.Arrays.equals(Codec.decompress(a, codec), payload))
    }
    assert(Codec.compress(payload, "none") eq payload)
  }

  test("payload_compress resolves on the SQL surface via the session extension") {
    val r = spark.sql(
      """SELECT cast(payload_decompress(
        |  payload_compress(cast('abc' as binary), 'zstd'), 'zstd') as string) AS s
        |""".stripMargin).head()
    assert(r.getString(0) == "abc")
    // non-literal codec argument is rejected at analysis, not per-row
    val err = intercept[Exception] {
      spark.sql("SELECT payload_compress(cast('x' as binary), s) FROM (SELECT 'zlib' AS s)")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal") ||
      err.getMessage.toLowerCase.contains("foldable"))
  }

  test("KvSink with a zstd payload: write, read back, decode to the same JSON") {
    val df = Seq((1L, "alice", 3.5), (2L, "bob", 1.0)).toDF("id", "name", "score")
    for (codec <- Seq("zlib", "gzip", "zstd")) {
      val kv = KvSink.toKv(spark, df, "id", codec)
      val decoded = KvSink.decodePayload(spark, kv, codec)
        .select(get_json_object($"json", "$.name").as("name"))
        .collect().map(_.getString(0)).toSet
      assert(decoded == Set("alice", "bob"), s"codec $codec decode mismatch")
    }
    // zlib stays the wire-format default (the reference checkpoint format)
    val defaultKv = KvSink.toKv(spark, df, "id")
    val viaZlib = KvSink.toKv(spark, df, "id", "zlib")
    assert(defaultKv.collect().map(_.getAs[Array[Byte]]("payload")).zip(
      viaZlib.collect().map(_.getAs[Array[Byte]]("payload")))
      .forall { case (a, b) => java.util.Arrays.equals(a, b) })
    // ... and its bytes are plain RFC 1950 zlib, the reference's wire format
    val json = defaultKv.collect().map(r => new String(
      graft.functions.Zlib.decompress(r.getAs[Array[Byte]]("payload")), "UTF-8"))
    assert(Seq("alice", "bob").forall(n => json.exists(_.contains(s"\"name\":\"$n\""))),
      json.mkString(" | "))
  }

  test("unknown codec is rejected at construction") {
    val e = intercept[IllegalArgumentException] {
      Codec.compress(Array[Byte](1), "lz77")
    }
    assert(e.getMessage.contains("unknown") || e.getMessage.contains("lz77"))
  }
}
