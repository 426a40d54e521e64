package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM subword segmentation — the THIRD tokenizer inference
  * family beside BPE merge replay (q127) and WordPiece greedy
  * longest-match (q132): SentencePiece's unigram model (Kudo 2018)
  * segments a word by GLOBAL optimization over all tokenizations, not
  * greedy left-to-right. The canonical objective maximizes Σ log p(piece)
  * (a Viterbi shortest path); this engine keeps the same DP but swaps
  * the float log-probs for an INTEGER total order so the result is
  * hash-exact across engines:
  *
  *   minimize piece count, then maximize Σ piece-frequency
  *   (lexicographic (cost, −fsum) — both additive, so the DP's optimal
  *   substructure holds for the pair exactly as for a scalar cost)
  *
  * Greedy and global genuinely differ: with vocab {a, aa, ab}, WordPiece
  * on "aab" takes "aa" then dead-ends at "b" (→ [UNK]); the DP finds
  * a·ab (UnigramSpec pins this).
  *
  * Per word the DP is O(len × maxPieceLen) over per-length hash probes
  * of the vocabulary literal (the WordpieceEncode compile scheme, freqs
  * attached). Words longer than [[UnigramSegment.MaxDp]] code points
  * fall back to character splitting (cost = len, fsum = Σ char freqs)
  * — the rule that keeps the oracle's position-unrolled replay finite;
  * an unsegmentable word (some position unreachable — impossible on the
  * training corpus, whose every character is in the vocabulary) returns
  * the (−1, 0) unknown sentinel. Returns struct(n_pieces, freq_sum),
  * both BIGINT. Position semantics are code points (the WinnowGrams
  * convention). */
case class UnigramSegment(child: Expression, vocab: Seq[(String, Long)])
    extends UnaryExpression with ExpectsInputTypes {
  require(vocab.nonEmpty, "unigram_segment needs a non-empty vocabulary")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_pieces", LongType, nullable = false),
    StructField("freq_sum", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unigram_segment"

  @transient private lazy val table: UgTable = UnigramSegment.compile(vocab)

  override protected def nullSafeEval(input: Any): Any =
    UnigramSegment.segment(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ugTable", table, classOf[UgTable].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnigramSegment.segment($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegment =
    copy(child = newChild)
}

/** Compiled vocabulary: piece → frequency maps bucketed by code-point
  * length for the DP's bounded backward probe. */
final class UgTable(val maxLen: Int,
    val byLen: Array[java.util.HashMap[UTF8String, java.lang.Long]])
  extends Serializable

object UnigramSegment {

  /** DP length bound; longer words character-split (see class doc). */
  val MaxDp = 12

  def compile(vocab: Seq[(String, Long)]): UgTable = {
    require(vocab.forall(_._1.nonEmpty), "empty piece in unigram vocabulary")
    val us = vocab.map { case (p, f) => (UTF8String.fromString(p), f) }
    val maxLen = us.map(_._1.numChars()).max
    val byLen = Array.fill(maxLen + 1)(
      new java.util.HashMap[UTF8String, java.lang.Long]())
    us.foreach { case (p, f) => byLen(p.numChars()).put(p, f) }
    new UgTable(maxLen, byLen)
  }

  /** DP segmentation; returns InternalRow(n_pieces, freq_sum). */
  def segment(word: UTF8String, t: UgTable): InternalRow = {
    val bytes = word.getBytes
    val nBytes = bytes.length
    var n = 0
    var i = 0
    while (i < nBytes) { if ((bytes(i) & 0xc0) != 0x80) n += 1; i += 1 }
    if (n == 0) return new GenericInternalRow(Array[Any](0L, 0L))
    val off = new Array[Int](n + 1)
    var cp = 0
    i = 0
    while (i < nBytes) {
      if ((bytes(i) & 0xc0) != 0x80) { off(cp) = i; cp += 1 }
      i += 1
    }
    off(n) = nBytes

    def piece(a: Int, b: Int): UTF8String = UTF8String.fromBytes(
      java.util.Arrays.copyOfRange(bytes, off(a), off(b)))

    if (n > MaxDp) {
      // char-split fallback: unseen chars contribute frequency 0
      var fs = 0L
      var p = 0
      while (p < n) {
        if (t.maxLen >= 1) {
          val f = t.byLen(1).get(piece(p, p + 1))
          if (f != null) fs += f.longValue()
        }
        p += 1
      }
      return new GenericInternalRow(Array[Any](n.toLong, fs))
    }

    // best over positions 0..n: (cost, fsum); cost<0 = unreachable
    val cost = Array.fill(n + 1)(-1)
    val fsum = new Array[Long](n + 1)
    cost(0) = 0
    var pos = 1
    while (pos <= n) {
      var l = 1
      val lMax = math.min(t.maxLen, pos)
      while (l <= lMax) {
        val j = pos - l
        if (cost(j) >= 0) {
          val f = t.byLen(l).get(piece(j, pos))
          if (f != null) {
            val c = cost(j) + 1
            val s = fsum(j) + f.longValue()
            if (cost(pos) < 0 || c < cost(pos) ||
                (c == cost(pos) && s > fsum(pos))) {
              cost(pos) = c; fsum(pos) = s
            }
          }
        }
        l += 1
      }
      pos += 1
    }
    if (cost(n) < 0) new GenericInternalRow(Array[Any](-1L, 0L))
    else new GenericInternalRow(Array[Any](cost(n).toLong, fsum(n)))
  }

  /** The `unigram_segment(word, pieces array<string>, freqs
    * array<bigint>)` builder [[graft.GraftExtensions]] installs: checks arity
    * and foldability up front and reads the freq array through its
    * DECLARED element type — `array(3, 9, 1)` without L suffixes
    * arrives as array<int>, which `getLong` would fail on with an
    * opaque ClassCastException mid-eval. Failures surface as clear
    * requirement errors during analysis. */
  def fromExprs(exprs: Seq[Expression]): UnigramSegment = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, IntegerType, ShortType}
    Predef.require(exprs.length == 3,
      "unigram_segment(word, pieces array<string>, freqs array<bigint>) takes 3 arguments")
    Predef.require(exprs(1).foldable && exprs(2).foldable,
      "unigram_segment vocab arrays (pieces, freqs) must be foldable literals")
    Predef.require(exprs(1).dataType.isInstanceOf[ArrayType] &&
      exprs(1).dataType.asInstanceOf[ArrayType].elementType == StringType,
      s"unigram_segment pieces must be array<string>, got ${exprs(1).dataType.sql}")
    val fs = exprs(2).eval(null).asInstanceOf[ArrayData]
    val ps = exprs(1).eval(null).asInstanceOf[ArrayData]
    Predef.require(ps != null && fs != null,
      "unigram_segment vocab arrays must not be null")
    Predef.require(ps.numElements() == fs.numElements(),
      s"unigram_segment pieces/freqs must be the same length " +
        s"(${ps.numElements()} vs ${fs.numElements()})")
    val freqOf: Int => Long = exprs(2).dataType match {
      case ArrayType(LongType, _)    => fs.getLong _
      case ArrayType(IntegerType, _) => j => fs.getInt(j).toLong
      case ArrayType(ShortType, _)   => j => fs.getShort(j).toLong
      case t => throw new IllegalArgumentException(
        s"unigram_segment freqs must be an integral array, got ${t.sql}")
    }
    UnigramSegment(exprs.head,
      (0 until ps.numElements()).map(j =>
        (ps.getUTF8String(j).toString, freqOf(j))))
  }

  def apply(c: Column, vocab: Seq[(String, Long)]): Column =
    org.apache.spark.sql.functions.call_function("unigram_segment", c,
      org.apache.spark.sql.functions.typedLit(vocab.map(_._1)),
      org.apache.spark.sql.functions.typedLit(vocab.map(_._2)))
}
