package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.{Codec, DotProduct, HtmlText, NfcNormalize, Norm2, UnigramSegment, Vec, VecAgg, WordpieceEncode, Zlib}
import graft.queries.SimilarityQueries.{dot, dotHof, norm2Hof}

/** SparkSessionExtensions installation (the `spark.sql.extensions=
  * graft.GraftExtensions` deployment path — SparkSuite builds its session
  * through GraftSession, which sets exactly that config string) and the
  * VecRewrite optimizer rule. */
class GraftExtensionsSpec extends SparkSuite {
  import spark.implicits._

  private def optimized(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan

  private def hasDot(df: org.apache.spark.sql.DataFrame): Boolean =
    optimized(df).expressions.exists(_.exists(_.isInstanceOf[DotProduct]))

  private def hasNorm2(df: org.apache.spark.sql.DataFrame): Boolean =
    optimized(df).expressions.exists(_.exists(_.isInstanceOf[Norm2]))

  test("injected functions resolve on the SQL surface without any register() call") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.size == 19 && names.distinct == names)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))

    // string-config extension loading happened at session build; these
    // names must resolve from the registry, not from temp registration
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       vec_norm2(array(3.0D, 4.0D)) AS n,
        |       md5_prefix64(cast('a' as binary), 8) AS h,
        |       cast(zlib_decompress(zlib_compress(cast('xyz' as binary))) as string) AS z,
        |       winnow_grams('abc', 3, 4) AS w
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 25.0)
    // first 8 hex nibbles of md5("a") = 0cc175b9
    assert(r.getLong(2) == java.lang.Long.parseLong("0cc175b9", 16))
    assert(r.getString(3) == "xyz")
    assert(r.getSeq[String](4) == Seq("abc"))

    // every other name once through its column helper
    val one = Seq(("e\u0301", "a<br>b", "aab")).toDF("t", "h", "w")
      .select(
        Vec.isqdCol(typedLit(Seq(1L, 2L)), typedLit(Seq(4L, 6L))).as("isqd"),
        // D = hadamardDiagSign = (1, -1): (3·1 + 4·-1, 3·1 - 4·-1)
        Vec.hadamardCol(typedLit(Seq(3L, 4L))).as("had"),
        Vec.icountCol(typedLit(Seq(1L, 3L, 5L)), typedLit(Seq(3L, 4L, 5L))).as("ic"),
        NfcNormalize($"t").as("nfc"),
        HtmlText($"h").as("html"),
        UnigramSegment($"w", Seq(("a", 10L), ("aa", 5L), ("ab", 3L))).as("uni"),
        WordpieceEncode($"w", Seq("aa", "b")).as("wp"),
        Codec.decompressCol(Codec.compressCol($"w".cast("binary"), "gzip"), "gzip")
          .cast("string").as("payload"),
        Codec.compressCol($"w".cast("binary"), "gzip").as("gz"),
        Zlib.compressCol($"w".cast("binary")).as("zc"),
        Zlib.decompressCol(lit(Zlib.compress("aab".getBytes("UTF-8"))))
          .cast("string").as("zd"))
      .head()
    assert(one.getAs[Long]("isqd") == 25L)
    assert(one.getSeq[Long](one.fieldIndex("had")) == Seq(-1L, 7L))
    assert(one.getAs[Long]("ic") == 2L)
    assert(one.getAs[String]("nfc") == "\u00e9")
    assert(one.getAs[String]("html") == "a\nb")
    assert(one.getAs[Row]("uni") == Row(2L, 13L))
    assert(one.getSeq[String](one.fieldIndex("wp")) == Seq("aa", "b"))
    assert(one.getAs[String]("payload") == "aab")
    assert(one.getAs[Array[Byte]]("gz").toSeq ==
      Codec.compress("aab".getBytes("UTF-8"), "gzip").toSeq)
    assert(one.getAs[Array[Byte]]("zc").toSeq == Zlib.compress("aab".getBytes("UTF-8")).toSeq)
    assert(one.getAs[String]("zd") == "aab")

    val agg = Seq((Seq(1L, 2L), Seq(1.0, 5.0)), (Seq(3L, 4L), Seq(2.0, -1.0))).toDF("l", "d")
      .agg(VecAgg.sumLCol($"l"), VecAgg.sumDCol($"d"), VecAgg.minCol($"d"), VecAgg.maxCol($"d"))
      .head()
    assert(agg.getSeq[Long](0) == Seq(4L, 6L))
    assert(agg.getSeq[Double](1) == Seq(3.0, 4.0))
    assert(agg.getSeq[Double](2) == Seq(1.0, -1.0))
    assert(agg.getSeq[Double](3) == Seq(2.0, 5.0))

    // no helper re-registered a name: each still resolves to the
    // expression GraftExtensions installed, not to a temp-function builder
    GraftExtensions.functions.foreach { case (id, info, _) =>
      assert(spark.catalog.getFunction(id.funcName).className == info.getClassName, id.funcName)
    }
  }

  test("VecRewrite turns the HOF dot/norm2 into native expressions (parquet-backed)") {
    val emb = Tables.embeddings(spark, sf0001)
    val dfDot = emb.select(dotHof($"embedding", $"embedding").as("d"))
    val dfN2 = emb.select(norm2Hof($"embedding").as("n"))
    assert(hasDot(dfDot), "aggregate(zip_with(...)) should rewrite to vec_dot")
    assert(hasNorm2(dfN2), "aggregate(acc + v*v) should rewrite to vec_norm2")

    // values bit-identical to the explicitly-native formulation
    val both = emb.select($"vec_id", dotHof($"embedding", $"embedding").as("h"),
        dot($"embedding", $"embedding").as("n"))
      .where($"h" =!= $"n")
    assert(both.isEmpty)
  }

  test("VecRewrite matches the SQL-text lambda form, including crossed variables") {
    val emb = Tables.embeddings(spark, sf0001)
    emb.createOrReplaceTempView("ext_emb")
    val straight = spark.sql(
      """SELECT aggregate(zip_with(embedding, embedding, (x, y) -> double(x) * double(y)),
        |                 0.0D, (acc, v) -> acc + v) AS d FROM ext_emb""".stripMargin)
    val crossed = spark.sql(
      """SELECT aggregate(zip_with(embedding, embedding, (x, y) -> double(y) * double(x)),
        |                 0.0D, (acc, v) -> acc + v) AS d FROM ext_emb""".stripMargin)
    assert(hasDot(straight))
    assert(hasDot(crossed), "IEEE multiply commutes — crossed lambda is the same fold")
  }

  test("rewrite is gated: spark.graft.rewriteVecHof=false leaves the HOF intact") {
    val emb = Tables.embeddings(spark, sf0001)
    withSQLConf("spark.graft.rewriteVecHof" -> "false") {
      val df = emb.select(dotHof($"embedding", $"embedding").as("d"))
      assert(!hasDot(df), "gate off: no DotProduct may appear")
      assert(df.head().getDouble(0) > 0.0)
    }
  }

  test("non-matching folds are left alone (sum without product, non-zero seed)") {
    val emb = Tables.embeddings(spark, sf0001)
    // plain sum: merge is acc + v but argument is not a zip_with product
    val plainSum = emb.select(
      aggregate($"embedding", lit(0.0), (acc, v) => acc + v.cast("double")).as("s"))
    assert(!hasDot(plainSum) && !hasNorm2(plainSum))
    // norm-shaped but seeded at 1.0: a different value — must not rewrite
    val seeded = emb.select(
      aggregate($"embedding", lit(1.0),
        (acc, v) => acc + v.cast("double") * v.cast("double")).as("s"))
    assert(!hasNorm2(seeded))
  }
}
