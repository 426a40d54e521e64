package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy longest-match-first subword segmentation — the WordPiece
  * INFERENCE rule (Wu et al. 2016 §4.1 / BERT's tokenizer): at each
  * position take the LONGEST vocabulary piece that prefixes the
  * remaining word; if no piece matches, the WHOLE word becomes the
  * single unknown token. (Position-insensitive vocabulary — no "##"
  * continuation marking — so the rule is pure greedy longest-prefix
  * segmentation; with a vocabulary containing every corpus character
  * the unknown branch is unreachable on the training corpus but stays
  * part of the contract for unseen text.)
  *
  * One native call per word TYPE inside whole-stage codegen: the
  * vocabulary is a plan LITERAL compiled once per expression instance
  * into per-length hash sets (a driver-side artifact, KBs — the q121
  * literal-basis precedent), and matching probes lengths
  * longest-first over byte ranges of the single UTF-8 buffer. Position
  * semantics are CODE POINTS, matching substr/length in the oracle
  * engine (the WinnowGrams convention). */
case class WordpieceEncode(child: Expression, vocab: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(vocab.nonEmpty, "wordpiece_encode needs a non-empty vocabulary")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wordpiece_encode"

  @transient private lazy val table: WpTable = WordpieceEncode.compile(vocab)

  override protected def nullSafeEval(input: Any): Any =
    WordpieceEncode.encode(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wpTable", table, classOf[WpTable].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordpieceEncode.encode($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordpieceEncode =
    copy(child = newChild)
}

/** Compiled vocabulary: pieces bucketed by CODE-POINT length for the
  * longest-first probe. */
final class WpTable(val maxLen: Int,
    val byLen: Array[java.util.HashSet[UTF8String]]) extends Serializable

object WordpieceEncode {

  /** The unknown token emitted when no vocabulary piece matches. Carries
    * U+001F (the BPE-side separator, filtered out of every corpus word
    * and REJECTED in vocabularies by [[compile]]), so no legitimate
    * piece can collide with it — an in-band "[UNK]" string could be a
    * real learned piece (e.g. a corpus containing the literal word
    * "[UNK]") and would miscount as unknown (review finding). */
  val Unk = "\u001f[UNK]"
  private val UnkU = UTF8String.fromString(Unk)

  def compile(vocab: Seq[String]): WpTable = {
    require(vocab.forall(!_.contains('\u001f')),
      "vocabulary pieces must not contain the reserved U+001F sentinel")
    val us = vocab.map(UTF8String.fromString)
    val maxLen = us.map(_.numChars()).max
    val byLen = Array.fill(maxLen + 1)(new java.util.HashSet[UTF8String]())
    us.foreach(p => byLen(p.numChars()).add(p))
    new WpTable(maxLen, byLen)
  }

  /** Greedy longest-prefix segmentation of `word`; [UNK] (alone) when
    * any position has no matching piece. Empty word → empty array. */
  def encode(word: UTF8String, t: WpTable): ArrayData = {
    val bytes = word.getBytes
    val nBytes = bytes.length
    // code-point byte offsets (the WinnowGrams pass)
    var n = 0
    var i = 0
    while (i < nBytes) { if ((bytes(i) & 0xc0) != 0x80) n += 1; i += 1 }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val off = new Array[Int](n + 1)
    var cp = 0
    i = 0
    while (i < nBytes) {
      if ((bytes(i) & 0xc0) != 0x80) { off(cp) = i; cp += 1 }
      i += 1
    }
    off(n) = nBytes

    val pieces = new java.util.ArrayList[Any]()
    var pos = 0
    while (pos < n) {
      var l = math.min(t.maxLen, n - pos)
      var hit: UTF8String = null
      while (l >= 1 && hit == null) {
        val cand = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, off(pos), off(pos + l)))
        if (t.byLen(l).contains(cand)) hit = cand else l -= 1
      }
      if (hit == null)
        return new GenericArrayData(Array[Any](UnkU)) // whole word → [UNK]
      pieces.add(hit)
      pos += l
    }
    new GenericArrayData(pieces.toArray)
  }

  def apply(c: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.functions.call_function("wordpiece_encode",
      c, org.apache.spark.sql.functions.typedLit(vocab))
}
