package graft

import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries._

/** The native vec_dot/vec_norm2 Expressions must be bit-identical to the
  * HOF formulation they replaced (same left-to-right double fold), stay
  * inside whole-stage codegen, and fail loudly on length mismatch. */
class VecSpec extends SparkSuite {
  import spark.implicits._

  private def randVec(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextFloat() * 2f - 1f)
  }

  test("vec_dot/vec_norm2 are bit-identical to the HOF fold (float arrays)") {
    // VecRewrite OFF: otherwise the "HOF" side is silently rewritten to the
    // native expression and this comparison proves nothing
    withSQLConf("spark.graft.rewriteVecHof" -> "false") {
      val df = (0 until 50).map(i => (i, randVec(i, 64), randVec(i + 1000, 64)))
        .toDF("id", "a", "b")
      val out = df.select(
        dot($"a", $"b").as("nd"), dotHof($"a", $"b").as("hd"),
        norm2($"a").as("nn"), norm2Hof($"a").as("hn")).collect()
      out.foreach { r =>
        // exact ==: same fold order must mean same bits, not just close
        assert(r.getDouble(0) == r.getDouble(1))
        assert(r.getDouble(2) == r.getDouble(3))
      }
    }
  }

  test("vec_dot handles mixed float/double arrays (the centroid case)") {
    withSQLConf("spark.graft.rewriteVecHof" -> "false") {
      val df = (0 until 20).map { i =>
        val f = randVec(i, 16)
        (i, f, f.map(_.toDouble * 1.5))
      }.toDF("id", "f", "d")
      val out = df.select(
        dot($"f", $"d").as("nd"), dotHof($"f", $"d").as("hd"),
        dot($"d", $"f").as("nr"), dotHof($"d", $"f").as("hr"),
        norm2($"d").as("nn"), norm2Hof($"d").as("hn")).collect()
      out.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1))
        assert(r.getDouble(2) == r.getDouble(3))
        assert(r.getDouble(4) == r.getDouble(5))
      }
    }
  }

  test("null array yields null; length mismatch throws") {
    val df = Seq(
      (Some(Array(1f, 2f)), Some(Array(3f, 4f))),
      (None, Some(Array(3f, 4f)))).toDF("a", "b")
    val out = df.select(dot($"a", $"b")).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0))

    val bad = Seq((Array(1f, 2f), Array(3f))).toDF("a", "b")
    val e = intercept[Exception] { bad.select(dot($"a", $"b")).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("length mismatch")))
  }

  test("vec_isqd is bit-identical to the HOF fold (bigint arrays, q95/q111 scan)") {
    import org.apache.spark.sql.functions._
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Array.tabulate(64L.toInt)(j => ((i * 31 + j * 7) % 256).toLong),
        Array.tabulate(64L.toInt)(j => ((i * 17 + j * 13) % 256).toLong))
    }.toDF("id", "a", "b")
    val both = rows.select(
      graft.functions.Vec.isqdCol($"a", $"b").as("native"),
      aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // null + mismatch contract mirrors vec_dot
    val n = rows.limit(1).select(
      graft.functions.Vec.isqdCol(lit(null).cast("array<bigint>"), $"b"))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("vec_hadamard butterfly equals the popcount formula; guards length; codegen") {
    import org.apache.spark.sql.functions._
    val rows = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 7) % 256).toLong))
    }.toDF("id", "a")
    // reference: out[j] = sum_i (-1)^popcount(j&i) * D[i] * in[i]
    def naive(in: Array[Long]): Seq[Long] = {
      val n = in.length
      (0 until n).map { j =>
        (0 until n).map { i =>
          val h = if (java.lang.Long.bitCount((j & i).toLong) % 2 == 0) 1L else -1L
          h * graft.functions.Vec.hadamardDiagSign(i) * in(i)
        }.sum
      }
    }
    val got = rows.select($"a",
      graft.functions.Vec.hadamardCol($"a").as("h")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) == naive(r.getSeq[Long](0).toArray))
    }
    // non-power-of-2 length fails loudly (a truncated code row is a bug)
    val bad = Seq(Tuple1(Array(1L, 2L, 3L))).toDF("a")
    val e = intercept[Exception] {
      bad.select(graft.functions.Vec.hadamardCol($"a")).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("power-of-2")))
  }

  test("vec_dot stays inside WholeStageCodegen (the point of the rewrite)") {
    // parquet-backed, not a local Seq — ConvertToLocalRelation would fold
    // a literal relation into LocalTableScan and hide the projection
    val emb = Tables.embeddings(spark, sf0001)
    val df = emb.select(dot($"embedding", $"embedding").as("d"))
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("vec_dot"))
    // the *(n) prefix in toString = a WholeStageCodegenExec span
    val codegenSpans = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(codegenSpans.nonEmpty,
      "vec_dot projection must sit inside a WholeStageCodegen span")
    assert(df.head().getDouble(0) > 0.0)
  }
}
