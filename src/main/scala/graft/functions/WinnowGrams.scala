package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowed fingerprint grams of a document in ONE native call — the
  * q119 selection stage (see DedupQueries.q119SubstringDedup for the
  * algorithm contract): k-char gram md5-prefix hashes, all-window-min
  * selection over a w-gram window, distinct selected gram CONTENTS.
  *
  * Replaces a 3-level higher-order-function chain (hash transform →
  * window-min transform over slices → selection filter over slices).
  * HOFs are CodegenFallback — every element is an interpreted eval, and
  * each of the ~2·n·w `slice` calls COPIES its window. This expression
  * is one static call per row: md5s run over byte ranges of the single
  * UTF-8 buffer (no per-gram string), and both the window minima and
  * the covering-window maxima come from monotonic deques — O(n) beyond
  * the hashing, zero slice copies. Values are IDENTICAL to the HOF
  * chain (Round11QueriesSpec pins equality on the corpus), so the
  * DuckDB oracle is unaffected.
  *
  * Position semantics are CODE POINTS (matching substr/len in both
  * engines); byte offsets are precomputed in one pass, so ASCII and
  * multi-byte text both hash exactly the gram substring. */
case class WinnowGrams(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_grams"

  override protected def nullSafeEval(input: Any): Any =
    WinnowGrams.select(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowGrams.select($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowGrams =
    copy(child = newChild)
}

object WinnowGrams {
  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Distinct winnow-selected k-char grams of `text` with window `w`. */
  def select(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    // code-point byte offsets: off(i) = byte start of code point i
    val nBytes = bytes.length
    var cp = 0
    var i = 0
    while (i < nBytes) {
      if ((bytes(i) & 0xc0) != 0x80) cp += 1
      i += 1
    }
    val n = cp
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val off = new Array[Int](n + 1)
    cp = 0; i = 0
    while (i < nBytes) {
      if ((bytes(i) & 0xc0) != 0x80) { off(cp) = i; cp += 1 }
      i += 1
    }
    off(n) = nBytes

    val ng = n - k + 1
    val weff = math.min(w, ng)
    val md = md5Pool.get()
    val hs = new Array[Long](ng)
    var p = 0
    while (p < ng) {
      md.reset()
      md.update(bytes, off(p), off(p + k) - off(p))
      val digest = md.digest()
      var v = 0L
      var j = 0
      while (j < 8) {
        val b = digest(j / 2) & 0xff
        v = (v << 4) | (if (j % 2 == 0) b >>> 4 else b & 0xf)
        j += 1
      }
      hs(p) = v
      p += 1
    }

    // window minima M[j] = min(hs[j .. j+weff-1]) via a monotonic deque
    val ngw = ng - weff + 1
    val m = new Array[Long](ngw)
    val dq = new Array[Int](ng)
    var head = 0; var tail = 0 // deque of indices, values increasing
    p = 0
    while (p < ng) {
      while (tail > head && hs(dq(tail - 1)) >= hs(p)) tail -= 1
      dq(tail) = p; tail += 1
      if (dq(head) <= p - weff) head += 1
      if (p >= weff - 1) m(p - weff + 1) = hs(dq(head))
      p += 1
    }

    // selected p iff max(M[max(0,p-weff+1) .. min(p, ngw-1)]) == hs[p]:
    // second monotonic deque (decreasing values) over the M windows
    val out = new java.util.LinkedHashSet[UTF8String]()
    head = 0; tail = 0
    var hi = -1 // last M index pushed
    p = 0
    while (p < ng) {
      val lo = math.max(0, p - weff + 1)
      val end = math.min(p, ngw - 1)
      while (hi < end) {
        hi += 1
        while (tail > head && m(dq(tail - 1)) <= m(hi)) tail -= 1
        dq(tail) = hi; tail += 1
      }
      while (dq(head) < lo) head += 1
      if (m(dq(head)) == hs(p))
        out.add(UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, off(p), off(p + k))))
      p += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  def apply(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.functions.call_function("winnow_grams",
      c, org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
}
