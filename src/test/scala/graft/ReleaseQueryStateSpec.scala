package graft

import graft.operators.FrameMemo
import graft.queries.{DedupQueries, GraphQueries}

/** [[SparkEntry.releaseQueryState]] frees what one query left behind and
  * spares the memoized shared frames. All suites share one session, so
  * every assertion is on this test's own frames and RDD ids. */
class ReleaseQueryStateSpec extends SparkSuite {

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  /** One query's own state: a lineage-truncating checkpoint and a cached
    * frame. Returns the checkpoint's RDD id and the cached frame. */
  private def queryState() = {
    val ckpt = spark.range(0, 1000).selectExpr("id % 7 AS k").localCheckpoint()
    val cached = spark.range(0, 100).toDF("x").cache()
    cached.count()
    (FrameMemo.rddIdOf(ckpt).get, cached)
  }

  private def isCached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  private def touchMemos(): Unit = {
    GraphQueries.weightedEdgesPartitioned(spark, sf0001).count()
    DedupQueries.taggedOccCorpusFromText(spark, sf0001).count()
  }

  test("frees a query's own checkpoint and cache, spares the edge and occurrence memos") {
    touchMemos()
    val graph = GraphQueries.sharedRddIds(spark)
    val dedup = DedupQueries.sharedRddIds(spark)
    assert(graph.nonEmpty && dedup.nonEmpty)

    val (ckpt, cached) = queryState()
    assert(persisted(ckpt) && isCached(cached))
    SparkEntry.releaseQueryState(spark)
    assert(!persisted(ckpt), "the query's own localCheckpoint RDD survived")
    assert(!isCached(cached), "the query's cached frame survived")
    assert((graph ++ dedup).forall(persisted), "a shared memo frame was released")

    // a warm repeat hits both memos: same live ids, nothing rebuilt
    touchMemos()
    val (ckpt2, cached2) = queryState()
    SparkEntry.releaseQueryState(spark)
    assert(!persisted(ckpt2) && !isCached(cached2))
    assert(GraphQueries.sharedRddIds(spark) == graph)
    assert(DedupQueries.sharedRddIds(spark) == dedup)
  }
}
