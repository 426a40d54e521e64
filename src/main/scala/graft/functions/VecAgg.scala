package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Elementwise ARRAY aggregates: one aggregate expression over an
  * array column instead of a fan of `dim` per-position aggregates.
  *
  * The per-dim formulation — `agg(sum(element_at(v, 1)), ...,
  * sum(element_at(v, 64)), ...)` — costs nothing extra to EXECUTE (the
  * hash-agg buffer is the same 64 cells) but makes every PLAN that
  * contains it carry 64–128 aggregate expression trees. For the
  * centroid/stats steps of the ANN and SemDeDup training chains that
  * plan is re-analyzed and re-optimized once per AQE stage per loop
  * round: OPTIMIZATION_r18.md's job profile shows q117 spending 3.1 s in
  * DRIVER planning across 76 jobs, and the optimizer walks those wide
  * Aggregates every pass (optimization-guide §7.3 "very large plans").
  * One TypedImperativeAggregate with an array buffer collapses each fan
  * to a single expression; values are unchanged:
  *
  *  - [[VecAggSumLong]]: Σ per position over `array<bigint>` — long
  *    adds, associative-exact, bit-identical to the per-dim sums.
  *  - [[VecAggSumDouble]]: Σ per position over `array<float|double>`,
  *    accumulated in double after the same float→double widening the
  *    per-dim `element_at(v, i).cast("double")` did. Double sums are
  *    order-sensitive only across partition merge order, exactly as the
  *    per-dim `sum()` already was (same partial/merge tree).
  *  - [[VecAggMin]]/[[VecAggMax]]: per-position min/max in
  *    `java.lang.Double.compare` order (Spark's own double ordering —
  *    NaN greatest, -0.0 < 0.0), order-independent and exact.
  *
  * Contract (the [[Vec]] family's): input arrays are dense and
  * same-length; a length mismatch raises rather than null-padding. An
  * aggregate over ZERO rows yields NULL (the per-dim form yielded an
  * array of per-dim NULLs; no declared query aggregates an empty
  * corpus — VecAggSpec pins the populated-group equivalence).
  *
  * Buffers ship as one ~dim·8-byte blob per partial (ObjectHashAggregate
  * path), the same bytes the 64 per-dim cells occupied.
  */
abstract class VecAggBase[T] extends TypedImperativeAggregate[T]
    with UnaryLike[Expression] {
  override def nullable: Boolean = true
}

/** Per-position sum over array<bigint>. */
case class VecAggSumLong(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends VecAggBase[Array[Long]] {

  override def prettyName: String = "vec_agg_sum_l"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_agg_sum_l needs a bigint array, got ${t.sql}")
  }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return b
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val buf = if (b.length == 0) new Array[Long](n) else b
    if (buf.length != n)
      throw new IllegalArgumentException(
        s"vec_agg_sum_l length mismatch ${buf.length} vs $n")
    var i = 0
    while (i < n) { buf(i) += a.getLong(i); i += 1 }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.length == 0) return b
    if (b.length == 0) return a
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"vec_agg_sum_l merge length mismatch ${a.length} vs ${b.length}")
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(b: Array[Long]): Any =
    if (b.length == 0) null else new GenericArrayData(b)

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(b.length * 8)
    var i = 0
    while (i < b.length) { bb.putLong(b(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): VecAggSumLong =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecAggSumLong =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): VecAggSumLong =
    copy(child = c)
}

/** Shared double-buffer machinery for sum/min/max over float/double
  * arrays. The buffer is (dim doubles); the empty array marks
  * "no rows yet". */
abstract class VecAggDoubleBase extends VecAggBase[Array[Double]] {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a float/double array, got ${t.sql}")
  }

  protected final def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Fold one input element into the buffer cell. */
  protected def fold(cur: Double, v: Double): Double

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return b
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val f = isFloat
    if (b.length == 0) {
      // first row seeds the buffer directly (min/max have no identity
      // element that is safe against infinities; sum's seed 0 + x = x)
      val buf = new Array[Double](n)
      var i = 0
      while (i < n) { buf(i) = if (f) a.getFloat(i).toDouble else a.getDouble(i); i += 1 }
      return buf
    }
    if (b.length != n)
      throw new IllegalArgumentException(
        s"$prettyName length mismatch ${b.length} vs $n")
    var i = 0
    while (i < n) {
      b(i) = fold(b(i), if (f) a.getFloat(i).toDouble else a.getDouble(i))
      i += 1
    }
    b
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.length == 0) return b
    if (b.length == 0) return a
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"$prettyName merge length mismatch ${a.length} vs ${b.length}")
    var i = 0
    while (i < a.length) { a(i) = fold(a(i), b(i)); i += 1 }
    a
  }

  override def eval(b: Array[Double]): Any =
    if (b.length == 0) null else new GenericArrayData(b)

  override def serialize(b: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(b.length * 8)
    var i = 0
    while (i < b.length) { bb.putDouble(b(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }
}

/** Per-position double sum (float inputs widened first, like
  * `sum(element_at(v, i).cast("double"))`). */
case class VecAggSumDouble(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends VecAggDoubleBase {
  override def prettyName: String = "vec_agg_sum_d"
  override protected def fold(cur: Double, v: Double): Double = cur + v
  override def withNewMutableAggBufferOffset(o: Int): VecAggSumDouble =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecAggSumDouble =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): VecAggSumDouble =
    copy(child = c)
}

/** Per-position min, `java.lang.Double.compare` order. */
case class VecAggMin(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends VecAggDoubleBase {
  override def prettyName: String = "vec_agg_min"
  override protected def fold(cur: Double, v: Double): Double =
    if (java.lang.Double.compare(v, cur) < 0) v else cur
  override def withNewMutableAggBufferOffset(o: Int): VecAggMin =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecAggMin =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): VecAggMin =
    copy(child = c)
}

/** Per-position max, `java.lang.Double.compare` order. */
case class VecAggMax(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends VecAggDoubleBase {
  override def prettyName: String = "vec_agg_max"
  override protected def fold(cur: Double, v: Double): Double =
    if (java.lang.Double.compare(v, cur) > 0) v else cur
  override def withNewMutableAggBufferOffset(o: Int): VecAggMax =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecAggMax =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): VecAggMax =
    copy(child = c)
}

object VecAgg {
  def sumLCol(a: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_agg_sum_l", a)
  def sumDCol(a: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_agg_sum_d", a)
  def minCol(a: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_agg_min", a)
  def maxCol(a: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_agg_max", a)
}
