package graft.functions

import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** zlib cell-payload compression (P6 — the reference zlib-compresses the
  * JSON profile payload before the Bigtable write,
  * taar_profile_bigtable.py:322-327).
  *
  * Implemented as a native Catalyst `Expression` with codegen (a static
  * call inside generated code), NOT a Scala UDF: stays inside
  * whole-stage codegen with no Encoder round-trip, so the KV-sink
  * projection remains a single codegen stage at 100 TB.
  */
case class ZlibCompress(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "zlib_compress"

  override protected def nullSafeEval(input: Any): Any =
    Zlib.compress(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Zlib.compress($c)")

  override protected def withNewChildInternal(newChild: Expression): ZlibCompress =
    copy(child = newChild)
}

/** Inverse of [[ZlibCompress]] (used by consumers / round-trip tests). */
case class ZlibDecompress(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "zlib_decompress"

  override protected def nullSafeEval(input: Any): Any =
    Zlib.decompress(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Zlib.decompress($c)")

  override protected def withNewChildInternal(newChild: Expression): ZlibDecompress =
    copy(child = newChild)
}

object Zlib {
  /** Deterministic zlib (RFC 1950) at default level; called from codegen. */
  def compress(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(bytes)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(32, bytes.length / 2))
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def decompress(bytes: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(bytes)
    val out = new java.io.ByteArrayOutputStream(math.max(32, bytes.length * 2))
    val buf = new Array[Byte](4096)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      // Any zero-progress iteration that isn't the end of the stream is
      // fatal — truncated input, or a stream demanding a preset dictionary
      // (needsDictionary), which would otherwise spin this loop forever on
      // corrupt/adversarial payloads.
      if (n == 0 && !inf.finished())
        throw new java.util.zip.DataFormatException(
          if (inf.needsDictionary()) "zlib stream requires a preset dictionary"
          else "truncated zlib input")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  /** Column faces of the SQL functions [[graft.GraftExtensions]] installs:
    * `call_function` keeps us on the public Column surface (Spark 4 hides
    * the Expression-backed Column constructor). */
  def compressCol(c: Column): Column =
    org.apache.spark.sql.functions.call_function("zlib_compress", c)

  def decompressCol(c: Column): Column =
    org.apache.spark.sql.functions.call_function("zlib_decompress", c)
}
