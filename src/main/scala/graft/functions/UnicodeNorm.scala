package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression — the text
  * canonicalization a dedup pipeline MUST run before hashing: "é" as one
  * code point (U+00E9) and as "e" + combining acute (U+0065 U+0301) are
  * byte-different, so every hash-keyed operator (q24 exact dedup, q25
  * MinHash, q99 URL keys, q119 winnowing) silently treats equal-looking
  * text as distinct until the corpus is normalized.
  *
  * Both engines implement the same Unicode standard (UAX #15 canonical
  * composition) — the JDK's java.text.Normalizer here, utf8proc in the
  * oracle engine's nfc_normalize — so outputs are byte-identical and the
  * operator carries a VALUE-level oracle (q134 hashes the normalized
  * bytes). Map-only; the ASCII fast path below skips the normalizer
  * allocation entirely for the overwhelmingly-ASCII corpus case. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** NFC-normalize; pure-ASCII input returns the INPUT object (no copy,
    * no Normalizer pass — ASCII is closed under NFC). */
  def nfc(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }

  def apply(c: Column): Column =
    org.apache.spark.sql.functions.call_function("nfc_normalize", c)
}
