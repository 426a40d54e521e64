package graft

import org.apache.spark.sql.functions._

import graft.functions.{Vec, VecAgg}

/** Round-19: the elementwise array aggregates (vec_agg_sum_l/sum_d/
  * min/max) must compute EXACTLY what the per-dim fan of 64 scalar
  * aggregates they replaced computed, and vec_icount must equal
  * size(array_intersect) on sorted distinct arrays — these are the
  * equality specs gating the q32/q59/q95/q110/q111/q117/q148/q152/q155
  * and q77 plan rewrites (the queries' values are additionally pinned by
  * the DuckDB oracle). */
class VecAggSpec extends SparkSuite {
  import spark.implicits._

  private def randVec(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)(r.nextFloat() * 2f - 1f)
  }

  private val dim = 16

  test("vec_agg_sum_d / min / max equal the per-dim aggregate fan on grouped float arrays") {
    // grid-valued floats (k/256): every partial and every merge is EXACT
    // in double, so the comparison is bit-for-bit regardless of which
    // order the two plans merge partials in. (On arbitrary floats both
    // formulations are equally merge-order-sensitive — same risk class,
    // nothing new to pin; the real queries' values are gated by the
    // oracle with round(...,6) downstream.)
    def gridVec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)((r.nextInt(513) - 256).toFloat / 256f)
    }
    val df = (0 until 200).map(i => (i % 7, gridVec(i))).toDF("g", "v")
    val fan = df.groupBy($"g").agg(
      array((1 to dim).map(d => sum(element_at($"v", d).cast("double"))): _*).as("s"),
      array((1 to dim).map(d => min(element_at($"v", d).cast("double"))): _*).as("lo"),
      array((1 to dim).map(d => max(element_at($"v", d).cast("double"))): _*).as("hi"))
    val agg = df.groupBy($"g").agg(
      VecAgg.sumDCol($"v").as("s"),
      VecAgg.minCol($"v").as("lo"),
      VecAgg.maxCol($"v").as("hi"))
    val f = fan.orderBy($"g").collect()
    val a = agg.orderBy($"g").collect()
    assert(f.length == a.length)
    f.zip(a).foreach { case (rf, ra) =>
      assert(rf.getInt(0) == ra.getInt(0))
      // min/max are order-independent → exact ==; the double SUM is
      // compared exactly too: both sides fold the same per-partition row
      // order and merge the same partials, so the bits agree (the same
      // argument the per-dim fan itself relied on for oracle stability)
      assert(rf.getSeq[Double](1) == ra.getSeq[Double](1), "sum")
      assert(rf.getSeq[Double](2) == ra.getSeq[Double](2), "min")
      assert(rf.getSeq[Double](3) == ra.getSeq[Double](3), "max")
    }
  }

  test("vec_agg_sum_l equals the per-dim long-sum fan (and floor-mean div matches)") {
    val r = new scala.util.Random(7)
    val df = (0 until 300).map(i =>
      (i % 5, Array.fill(dim)(r.nextInt(255).toLong))).toDF("g", "v")
    val fan = df.groupBy($"g").agg(
      array((1 to dim).map(d =>
        floor(sum(element_at($"v", d)) / count(lit(1))).cast("long")): _*).as("m"))
    val agg = df.groupBy($"g")
      .agg(VecAgg.sumLCol($"v").as("s"), count(lit(1)).as("c"))
      .select($"g", transform($"s", e => floor(e / $"c").cast("long")).as("m"))
    val f = fan.orderBy($"g").collect().map(_.getSeq[Long](1))
    val a = agg.orderBy($"g").collect().map(_.getSeq[Long](1))
    assert(f.toSeq == a.toSeq)
  }

  test("vec_agg_* raise on length mismatch, not null-pad (the Vec family contract)") {
    val df = Seq(Tuple1(Array(1L, 2L)), Tuple1(Array(1L, 2L, 3L))).toDF("v")
      .coalesce(1) // both rows in ONE buffer so update sees the mismatch
    val e = intercept[Exception] {
      df.agg(VecAgg.sumLCol($"v")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(e).exists(m => m != null && m.contains("length mismatch")))
  }

  test("vec_icount equals size(array_intersect) on sorted distinct arrays") {
    val r = new scala.util.Random(13)
    def sortedDistinct(n: Int): Array[Long] =
      r.shuffle((0L to 60L).toVector).take(n).sorted.toArray
    val rows = (0 until 200).map { i =>
      (i, sortedDistinct(r.nextInt(12)), sortedDistinct(r.nextInt(12)))
    } :+ ((200, Array.empty[Long], sortedDistinct(5))) // empty side
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      Vec.icountCol($"a", $"b").as("n"),
      size(array_intersect($"a", $"b")).cast("long").as("m")).collect()
    out.foreach(row => assert(row.getLong(0) == row.getLong(1)))
  }

  test("q77 equals its pre-rewrite form at sf0.001 (one-row audit)") {
    val now = graft.queries.GraphQueries.q77Triangles(spark, sf0001).collect()
    assert(now.length == 1)
    // the pre-round-19 formulation, inline
    val pairs = graft.queries.GraphQueries.copurchasePairs(spark, sf0001)
    val deg = pairs.select($"u".as("n")).union(pairs.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val o = pairs
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("src"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("dst"))
    val adj = o.groupBy($"src").agg(array_sort(collect_list($"dst")).as("nbrs"))
    val oldTris = o
      .join(adj.select($"src", $"nbrs".as("au")), Seq("src"))
      .join(adj.select($"src".as("dst"), $"nbrs".as("av")), Seq("dst"))
      .agg(coalesce(sum(size(array_intersect($"au", $"av")).cast("long")), lit(0L)))
      .head.getLong(0)
    assert(now(0).getAs[Long]("n_triangles") == oldTris)
  }

  test("labelCentroids and sq8Stats equal their per-dim formulations on sf0.001 embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val cNew = graft.queries.SimilarityQueries.labelCentroids(emb)
      .orderBy($"c_label").collect()
    val sums = (0 until 64).map(i =>
      sum(element_at($"embedding", i + 1).cast("double")).as(s"s_$i"))
    val aggCols = sums :+ count(lit(1)).as("cnt")
    val cOld = emb.groupBy($"label")
      .agg(aggCols.head, aggCols.tail: _*)
      .select($"label".as("c_label"), array((0 until 64).map(i =>
        col(s"s_$i") / col("cnt")): _*).as("centroid"))
      .orderBy($"c_label").collect()
    assert(cNew.length == cOld.length)
    cNew.zip(cOld).foreach { case (n, o) =>
      assert(n.get(0).toString == o.get(0).toString)
      // double sums over real float embeddings: both formulations are
      // merge-order-sensitive in the last bits, so compare to 1e-12
      // relative (the Covariance scaladoc's bound); the declared queries
      // round to 6 decimals downstream and are value-pinned by the oracle
      n.getSeq[Double](1).zip(o.getSeq[Double](1)).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y)), s"$x vs $y")
      }
    }
    val sNew = graft.queries.SimilarityQueries.sq8Stats(emb).head
    val sOld = emb.agg(
      array((1 to 64).map(d => min(element_at($"embedding", d).cast("double"))): _*).as("lo"),
      array((1 to 64).map(d => max(element_at($"embedding", d).cast("double"))): _*).as("hi"))
      .head
    assert(sNew.getSeq[Double](0) == sOld.getSeq[Double](0))
    assert(sNew.getSeq[Double](1) == sOld.getSeq[Double](1))
  }
}
