package graft

import org.apache.spark.sql.functions._

import graft.functions.Zlib

class ZlibSpec extends SparkSuite {
  import spark.implicits._

  test("zlib roundtrip through the Catalyst expression (codegen path)") {
    val df = Seq("hello graft", "", "a" * 10000, "unicode: ✓ ☃").toDF("s")
    val out = df
      .select(Zlib.decompressCol(Zlib.compressCol($"s".cast("binary"))).cast("string").as("rt"),
        $"s")
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("zlib output is RFC-1950 framed and smaller for repetitive input") {
    val bytes = Zlib.compress(("x" * 5000).getBytes("UTF-8"))
    assert(bytes(0) == 0x78.toByte) // zlib CMF: deflate, 32k window
    assert(bytes.length < 100)
    assert(new String(Zlib.decompress(bytes), "UTF-8") == "x" * 5000)
  }

  test("null propagates (nullIntolerant)") {
    val df = Seq(Some("x"), None).toDF("s")
    val out = df.select(Zlib.compressCol($"s".cast("binary"))).collect()
    assert(out(1).isNullAt(0))
    assert(!out(0).isNullAt(0))
  }

  test("corrupt/truncated payloads fail fast instead of spinning") {
    // truncated stream: valid header, body cut off mid-block
    val full = Zlib.compress(("graft" * 1000).getBytes("UTF-8"))
    val truncated = full.take(full.length / 2)
    intercept[java.util.zip.DataFormatException](Zlib.decompress(truncated))
    // FDICT stream (preset-dictionary demand) must throw, not loop forever:
    // CMF 0x78, FLG with bit 5 set + check bits making (CMF*256+FLG) % 31 == 0
    val fdict = Array[Byte](0x78.toByte, 0xbb.toByte, 0, 0, 0, 1, 0, 0, 0, 0)
    intercept[java.util.zip.DataFormatException](Zlib.decompress(fdict))
  }

  test("interpreted eval matches codegen result") {
    val data = "payload δ".getBytes("UTF-8")
    val viaHelper = Zlib.compress(data)
    val viaExpr = graft.functions.ZlibCompress(
      org.apache.spark.sql.catalyst.expressions.Literal(data)).eval(null)
    assert(java.util.Arrays.equals(viaHelper, viaExpr.asInstanceOf[Array[Byte]]))
  }
}
