package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Pluggable payload codecs for the KV sink (P6 generalized): `zlib`
  * (RFC 1950, the reference's checkpoint format —
  * taar_profile_bigtable.py:322-327), `gzip` (RFC 1952, for consumers
  * that expect the framed variant), `zstd` (zstd-jni, already on every
  * Spark classpath — the modern default for cold storage), and `none`.
  *
  * Same design as [[ZlibCompress]]: a native unary `Expression` whose
  * codegen is one static call, so the sink projection stays inside
  * whole-stage codegen. The codec is a compile-time constructor parameter
  * (validated, embedded as a literal in the generated code), not a
  * per-row column — a payload store has ONE format.
  */
case class PayloadCompress(child: Expression, codec: String)
    extends UnaryExpression with ExpectsInputTypes {
  Codec.require(codec)
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "payload_compress"

  override protected def nullSafeEval(input: Any): Any =
    Codec.compress(input.asInstanceOf[Array[Byte]], codec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"""graft.functions.Codec.compress($c, "$codec")""")

  override protected def withNewChildInternal(newChild: Expression): PayloadCompress =
    copy(child = newChild)
}

/** Inverse of [[PayloadCompress]]. */
case class PayloadDecompress(child: Expression, codec: String)
    extends UnaryExpression with ExpectsInputTypes {
  Codec.require(codec)
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "payload_decompress"

  override protected def nullSafeEval(input: Any): Any =
    Codec.decompress(input.asInstanceOf[Array[Byte]], codec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"""graft.functions.Codec.decompress($c, "$codec")""")

  override protected def withNewChildInternal(newChild: Expression): PayloadDecompress =
    copy(child = newChild)
}

object Codec {
  val Names: Set[String] = Set("zlib", "gzip", "zstd", "none")

  private[functions] def require(codec: String): Unit =
    Predef.require(Names.contains(codec),
      s"unknown payload codec '$codec' (one of ${Names.toSeq.sorted.mkString("/")})")

  /** Deterministic compression; called from generated code.
    * gzip: java's GZIPOutputStream writes a fixed header (MTIME=0), so
    * output is byte-stable. zstd: fixed default level. */
  def compress(bytes: Array[Byte], codec: String): Array[Byte] = codec match {
    case c if !Names.contains(c) => require(c); bytes
    case "zlib" => Zlib.compress(bytes)
    case "none" => bytes
    case "gzip" =>
      val bos = new java.io.ByteArrayOutputStream(math.max(32, bytes.length / 2))
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(bytes); g.close()
      bos.toByteArray
    case "zstd" =>
      val bos = new java.io.ByteArrayOutputStream(math.max(32, bytes.length / 2))
      val z = new com.github.luben.zstd.ZstdOutputStream(bos)
      z.write(bytes); z.close()
      bos.toByteArray
  }

  def decompress(bytes: Array[Byte], codec: String): Array[Byte] = codec match {
    case c if !Names.contains(c) => require(c); bytes
    case "zlib" => Zlib.decompress(bytes)
    case "none" => bytes
    case "gzip" => drain(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    case "zstd" => drain(new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(bytes)))
  }

  private def drain(in: java.io.InputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    val buf = new Array[Byte](4096)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  /** The codec argument must be a foldable string (a literal in SQL). */
  def codecArg(e: Expression): String = {
    Predef.require(e.foldable, "payload codec must be a literal string")
    String.valueOf(e.eval(null))
  }

  def compressCol(c: Column, codec: String): Column =
    org.apache.spark.sql.functions.call_function("payload_compress", c,
      org.apache.spark.sql.functions.lit(codec))

  def decompressCol(c: Column, codec: String): Column =
    org.apache.spark.sql.functions.call_function("payload_decompress", c,
      org.apache.spark.sql.functions.lit(codec))
}
