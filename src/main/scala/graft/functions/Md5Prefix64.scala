package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** First `nibbles` hex digits of md5(input) as an unsigned value in a
  * LongType — the hash domain used by MinHash (60 bits) and
  * SimHash / rolling fingerprints (32 bits).
  *
  * Replaces the 4-expression chain `cast(conv(substring(md5(x),1,n),16,10)
  * as long)`: one digest call, no hex-string materialization, no base
  * conversion. Values are IDENTICAL to the chain (first n nibbles of the
  * big-endian digest), so DuckDB oracles are unaffected. The win is
  * largest inside higher-order-function lambdas, which Spark evaluates
  * interpreted per array element — this expression is one static call
  * there instead of five allocations.
  */
case class Md5Prefix64(child: Expression, nibbles: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nibbles >= 1 && nibbles <= 15, s"nibbles must be 1..15, got $nibbles")
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_prefix64"

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix64.prefix(input.asInstanceOf[Array[Byte]], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5Prefix64.prefix($c, $nibbles)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

object Md5Prefix64 {
  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `nibbles` hex digits of md5(bytes) as a long (big-endian). */
  def prefix(bytes: Array[Byte], nibbles: Int): Long = {
    val md = md5Pool.get()
    md.reset()
    val digest = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < nibbles) {
      val b = digest(i / 2) & 0xff
      val nib = if (i % 2 == 0) b >>> 4 else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  def apply(c: Column, nibbles: Int): Column =
    org.apache.spark.sql.functions.call_function("md5_prefix64",
      c, org.apache.spark.sql.functions.lit(nibbles))
}
