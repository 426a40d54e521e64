package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native vector primitives for the similarity operators (q30/q31/q32).
  *
  * Spark's higher-order functions (`aggregate(zip_with(...))`) are
  * CodegenFallback: every lambda application is interpreted PER ARRAY
  * ELEMENT PER ROW — for a pairwise cosine that is 64 boxed evaluations
  * per candidate pair. These expressions compute the identical value
  * (left-to-right double accumulation over widened elements, exactly the
  * HOF's fold order, so DuckDB oracle hashes are unchanged) as ONE static
  * call inside whole-stage codegen.
  *
  * Null contract: like the HOF chain, a null input array yields null
  * (nullIntolerant); array ELEMENTS are assumed non-null (embeddings are
  * dense by construction — same assumption the HOF version made, where a
  * null element would poison the whole accumulation to null anyway).
  * Mismatched lengths raise: zip_with would null-pad and poison the sum
  * to null, which for dense fixed-dim vectors is always a data bug —
  * failing loudly beats a silent null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two float/double arrays, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  private def method: String = {
    val l = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val r = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    (l, r) match {
      case (true, true)   => "dotFF"
      case (true, false)  => "dotFD"
      case (false, true)  => "dotDF"
      case (false, false) => "dotDD"
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    method match {
      case "dotFF" => Vec.dotFF(x, y)
      case "dotFD" => Vec.dotFD(x, y)
      case "dotDF" => Vec.dotDF(x, y)
      case "dotDD" => Vec.dotDD(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Vec.$method($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Sum of squared elements (the squared L2 norm), double accumulation in
  * array order — bit-identical to `aggregate(a, 0.0, (acc,v) => acc+v*v)`. */
case class Norm2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_norm2"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_norm2 needs a float/double array, got ${t.sql}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (isFloat) Vec.norm2F(a) else Vec.norm2D(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isFloat) "norm2F" else "norm2D"
    defineCodeGen(ctx, ev, c => s"graft.functions.Vec.$m($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Norm2 =
    copy(child = newChild)
}

/** Integer squared L2 distance over two bigint arrays: Σ (a_i − b_i)² with
  * long accumulation in array order — bit-identical to the HOF chain
  * `aggregate(zip_with(a, b, (x,y) => (x−y)*(x−y)), 0L, (acc,v) => acc+v)`
  * that the SQ8/PQ scans (q95/q111) fold per candidate, but as ONE static
  * call inside whole-stage codegen instead of 64 interpreted lambda
  * applications per pair. Null/length contract matches [[DotProduct]]. */
case class IntSqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_isqd"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_isqd needs two bigint arrays, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Vec.isqdLL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Vec.isqdLL($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): IntSqDist =
    copy(left = newLeft, right = newRight)
}

/** Signed Walsh–Hadamard rotation of a bigint array (power-of-2 length n):
  * out[j] = Σᵢ H[j][i]·D[i]·in[i] with H[j][i] = (−1)^popcount(j&i)
  * (Sylvester order) and D[i] = (−1)^popcount(i·2654435761) — a fixed
  * pseudo-random sign diagonal (Knuth's multiplicative constant; the
  * structured rotation of the fast-JL / OPQ-lite family). Because
  * (HD)(HD)ᵀ = n·I, squared L2 distances scale EXACTLY by n and rankings
  * are invariant, while the energy of every input dimension spreads
  * uniformly over all outputs — the product-quantization subspace
  * balancing OPQ buys with a learned rotation, here with an integer-
  * exact, oracle-replayable one. Computed as the O(n log n) butterfly;
  * long sums are associative-exact, so the result is bit-identical to
  * the popcount formula (VecSpec pins the equivalence). */
case class SignedHadamard(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_hadamard"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_hadamard needs a bigint array, got ${t.sql}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Vec.hadamardLL(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Vec.hadamardLL($c)")

  override protected def withNewChildInternal(newChild: Expression): SignedHadamard =
    copy(child = newChild)
}

/** Count of common elements of two SORTED bigint arrays with DISTINCT
  * elements — `size(array_intersect(a, b))` without materializing the
  * intersection array. Spark's `array_intersect` builds a hash set and
  * allocates the result array per call; for q77's triangle count that
  * is one array allocation per oriented edge whose only consumer is
  * `size(...)`. The two-pointer merge over the sorted adjacency arrays
  * counts the same value (array_intersect dedups, and the adjacency
  * arrays are distinct-by-construction: one entry per distinct
  * neighbor) in O(|a|+|b|) with zero allocation, inside whole-stage
  * codegen. PRECONDITION (caller-owned, like the length contract of
  * [[DotProduct]]): both arrays ascending-sorted with distinct
  * elements — q77 builds them with `array_sort(collect_list(...))`
  * over distinct pairs. Null contract: null input array yields null;
  * elements are assumed non-null. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_icount"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_icount needs two bigint arrays, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Vec.icountLL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Vec.icountLL($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object Vec {
  private def checkLen(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"vec length mismatch ${n} vs ${b.numElements()}")
    n
  }

  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = checkLen(a, b); var acc = 0.0; var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = checkLen(a, b); var acc = 0.0; var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    acc
  }
  def dotDF(a: ArrayData, b: ArrayData): Double = {
    val n = checkLen(a, b); var acc = 0.0; var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getFloat(i).toDouble; i += 1 }
    acc
  }
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = checkLen(a, b); var acc = 0.0; var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
  def norm2F(a: ArrayData): Double = {
    val n = a.numElements(); var acc = 0.0; var i = 0
    while (i < n) { val v = a.getFloat(i).toDouble; acc += v * v; i += 1 }
    acc
  }
  def norm2D(a: ArrayData): Double = {
    val n = a.numElements(); var acc = 0.0; var i = 0
    while (i < n) { val v = a.getDouble(i); acc += v * v; i += 1 }
    acc
  }
  def isqdLL(a: ArrayData, b: ArrayData): Long = {
    val n = checkLen(a, b); var acc = 0L; var i = 0
    while (i < n) { val d = a.getLong(i) - b.getLong(i); acc += d * d; i += 1 }
    acc
  }

  /** Two-pointer common-element count over ascending distinct arrays —
    * the [[SortedIntersectCount]] kernel. */
  def icountLL(a: ArrayData, b: ArrayData): Long = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** (−1)^popcount(i·2654435761): the fixed sign diagonal D of
    * [[SignedHadamard]] — SQL dual `bit_count(i * 2654435761) % 2`. */
  def hadamardDiagSign(i: Int): Long =
    if ((java.lang.Long.bitCount(i.toLong * 2654435761L) & 1) == 0) 1L else -1L

  /** Signed Walsh–Hadamard transform, O(n log n) integer butterfly.
    * Exactly Σᵢ (−1)^popcount(j&i)·D[i]·in[i] — long addition is
    * associative, so butterfly order loses nothing. */
  def hadamardLL(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n == 0 || (n & (n - 1)) != 0)
      throw new IllegalArgumentException(
        s"vec_hadamard needs a power-of-2 length, got $n")
    val v = new Array[Long](n)
    var i = 0
    while (i < n) { v(i) = a.getLong(i) * hadamardDiagSign(i); i += 1 }
    var h = 1
    while (h < n) {
      var s = 0
      while (s < n) {
        var k = s
        while (k < s + h) {
          val x = v(k); val y = v(k + h)
          v(k) = x + y; v(k + h) = x - y
          k += 1
        }
        s += h * 2
      }
      h *= 2
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(v)
  }

  def dotCol(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)

  def norm2Col(a: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_norm2", a)

  def isqdCol(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_isqd", a, b)

  def hadamardCol(a: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_hadamard", a)

  def icountCol(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_icount", a, b)
}
