package graft

import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, Norm2}
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
    // string-config extension loading happened at session build; these
    // names must resolve from the registry, not from temp registration
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       vec_norm2(array(3.0D, 4.0D)) AS n,
        |       md5_prefix64(cast('a' as binary), 8) AS h,
        |       cast(zlib_decompress(zlib_compress(cast('xyz' as binary))) as string) AS z
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 25.0)
    // first 8 hex nibbles of md5("a") = 0cc175b9
    assert(r.getLong(2) == java.lang.Long.parseLong("0cc175b9", 16))
    assert(r.getString(3) == "xyz")
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
