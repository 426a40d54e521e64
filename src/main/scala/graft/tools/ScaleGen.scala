package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Scale-up generator for the scaling-curve measurement (docs/SCALE.md).
  *
  * Replicates a driver SF directory `factor`× with key remapping, so the
  * scaled corpus behaves like MORE data, not duplicated data:
  *
  *  - fact/dim keys shift by copy·(max+1) — joins stay consistent and
  *    every copy is a disjoint key universe (graphs become `factor`
  *    disjoint copies: linear growth, which is the property a scaling
  *    curve must hold fixed);
  *  - document text in copies ≥1 has every word suffixed `_i` — a
  *    bijection on the vocabulary, so WITHIN-copy shingle/Jaccard
  *    structure (incl. the planted near-dup pairs) is preserved exactly
  *    while cross-copy similarity drops to zero (verbatim replication
  *    would instead create `factor`-sized duplicate clusters and
  *    quadratic pair blowup — a workload change, not a scale change);
  *  - embeddings cyclically shift dimensions by 7·copy (norm- and
  *    within-copy-angle-preserving; cross-copy vectors decorrelate) and
  *    labels shift per copy (more clusters, not bigger ones).
  *
  * region/nation stay fixed (true dimensions); part names keep their
  * 64-word dictionary (dictionaries grow slower than facts).
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> <factor>
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.GraftSession.builder().appName("graft-scalegen").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, out, factor)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val cust = Tables.customer(spark, src)
    val supp = Tables.supplier(spark, src)
    val part = Tables.part(spark, src)
    val ord  = Tables.orders(spark, src)
    val li   = Tables.lineitem(spark, src)
    val ev   = Tables.events(spark, src)
    val docs = Tables.documents(spark, src)
    val emb  = Tables.embeddings(spark, src)

    val mCust = maxOf(cust, "c_custkey"); val mSupp = maxOf(supp, "s_suppkey")
    val mPart = maxOf(part, "p_partkey"); val mOrd = maxOf(ord, "o_orderkey")
    val mEv = maxOf(ev, "event_id")
    val mUser = maxOf(ev, "user_id"); val mDoc = maxOf(docs, "doc_id")
    val mVec = maxOf(emb, "vec_id")
    val mLabel = emb.agg(max(col("label"))).head().getInt(0) + 1

    /** Union of `factor` remapped copies. */
    def replicate(df: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(df, i)).reduce(_ unionByName _)

    def shift(c: String, m: Long, i: Int) = col(c) + lit(m * i)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")

    write(replicate(cust)((d, i) => d.withColumn("c_custkey", shift("c_custkey", mCust, i))), "customer")
    write(replicate(supp)((d, i) => d.withColumn("s_suppkey", shift("s_suppkey", mSupp, i))), "supplier")
    write(replicate(part)((d, i) => d.withColumn("p_partkey", shift("p_partkey", mPart, i))), "part")
    write(replicate(ord)((d, i) => d
      .withColumn("o_orderkey", shift("o_orderkey", mOrd, i))
      .withColumn("o_custkey", shift("o_custkey", mCust, i))), "orders")
    write(replicate(li)((d, i) => d
      .withColumn("l_orderkey", shift("l_orderkey", mOrd, i))
      .withColumn("l_partkey", shift("l_partkey", mPart, i))
      .withColumn("l_suppkey", shift("l_suppkey", mSupp, i))), "lineitem")
    write(replicate(ev)((d, i) => d
      .withColumn("event_id", shift("event_id", mEv, i))
      .withColumn("user_id", shift("user_id", mUser, i))), "events")

    write(replicate(docs) { (d, i) =>
      val text =
        if (i == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_$i"))), " ")
      d.withColumn("doc_id", shift("doc_id", mDoc, i))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    write(replicate(emb) { (d, i) =>
      val dim = 64
      val k = (7 * i) % dim
      val vec =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, dim - k),
                    slice(col("embedding"), 1, k))
      d.withColumn("vec_id", shift("vec_id", mVec, i))
        .withColumn("embedding", vec)
        .withColumn("label", (col("label") + lit(mLabel * i)).cast("int"))
    }, "embeddings")
  }
}
