package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NfcNormalize

/** q134: Unicode NFC normalization -- composition semantics, the ASCII
  * fast path, and the dedup miss the pass exists to prevent. Composed
  * and decomposed forms are spelled as explicit escape sequences so
  * source-encoding round-trips can't silently normalize the fixtures. */
class NfcSpec extends SparkSuite {
  import spark.implicits._

  private val Composed = "\u00e9"   // e-acute, single code point
  private val Decomposed = "e\u0301" // e + combining acute

  private def nfc(s: String): String =
    NfcNormalize.nfc(UTF8String.fromString(s)).toString

  test("canonical composition: decomposed sequences compose to NFC") {
    assert(Composed != Decomposed, "fixture premise: byte-different spellings")
    assert(nfc(Decomposed) == Composed)
    assert(nfc("caf" + Decomposed) == "caf" + Composed)
    // A + combining ring (U+030A) -> Aring (U+00C5); o + diaeresis -> U+00F6
    assert(nfc("A\u030angstro\u0308m") == "\u00c5ngstr\u00f6m")
    // already-NFC input is a fixed point (idempotence)
    assert(nfc(nfc("caf" + Decomposed)) == nfc("caf" + Decomposed))
  }

  test("ASCII fast path: pure-ASCII strings pass through unchanged") {
    val s = UTF8String.fromString("plain ascii text 123")
    // the fast path returns the INPUT object -- no copy, no normalizer
    assert(NfcNormalize.nfc(s) eq s)
  }

  test("the dedup miss q134 exists to prevent: NFD twin invisible until normalized") {
    val docs = Seq(
      (1L, s"caf$Composed au lait"),
      (2L, s"caf$Decomposed au lait"), // same text to a reader
      (3L, "something else")).toDF("doc_id", "text")
    // raw md5 keys: the two spellings are DIFFERENT keys (the silent miss)
    val raw = docs.select(md5($"text".cast("binary")).as("k"))
      .distinct().count()
    assert(raw == 3, "unnormalized hashing must miss the duplicate")
    // normalized keys: the twins collapse
    val norm = docs.select(
        md5(NfcNormalize($"text").cast("binary")).as("k"))
      .distinct().count()
    assert(norm == 2, "NFC normalization must expose the duplicate")
  }

  test("q134 over the corpus: ASCII docs are all unchanged, md5 stable") {
    val out = graft.queries.TextQueries.q134NfcNormalize(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.forall(!_.getBoolean(1)), "synthetic corpus is ASCII -> no changes")
    assert(out.forall(_.getString(3).length == 32))
  }

  test("SQL surface matches the oracle engine on a decomposed literal") {
    val got = spark.sql("SELECT nfc_normalize('caf' || 'e\u0301')")
      .collect().head.getString(0)
    assert(got == "caf" + Composed)
  }
}
