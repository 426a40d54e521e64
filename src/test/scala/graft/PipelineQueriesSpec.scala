package graft

import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, SimilarityQueries, TextQueries}

/** Value semantics of the round-3 pipeline queries (q29, q56-q59) — the
  * invariants the DuckDB oracle can't state directly. */
class PipelineQueriesSpec extends SparkSuite {
  import spark.implicits._

  test("q29 exact n-gram Jaccard is a superset of the LSH pairs (q26) — recall reference") {
    val exact = DedupQueries.q29NgramJaccard(spark, sf0001)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupQueries.q26MinhashPairs(spark, sf0001)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // LSH is probabilistic-recall over the SAME exact-verified threshold:
    // it may miss pairs, it must never add one
    assert(lsh.subsetOf(exact),
      s"LSH emitted pairs the exact index did not: ${lsh -- exact}")
  }

  test("q29 df cap: dropping hot shingles from pairing loses nothing on this corpus") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", DedupQueries.shingles($"text").as("shingles"))
    val occ = docs.select($"doc_id", explode($"shingles").as("sh"))
    val maxDf = occ.groupBy($"sh").count().agg(max($"count")).head().getLong(0)
    // corpus sanity: the cap actually sits above the observed df range at
    // this SF, so the capped result IS the uncapped all-pairs truth
    assert(maxDf <= DedupQueries.PairingDfCap,
      s"max shingle df $maxDf exceeds cap — subset-recall claim needs re-checking")
  }

  test("q56 split assignment is stable under corpus growth (content-addressed)") {
    val full = Tables.documents(spark, sf0001)
      .select($"doc_id", TextQueries.splitAssign($"doc_id").as("split"))
    val subset = Tables.documents(spark, sf0001).where($"doc_id" % 3 === 0)
      .select($"doc_id", TextQueries.splitAssign($"doc_id").as("s2"))
    val diverged = full.join(subset, "doc_id").where($"split" =!= $"s2")
    assert(diverged.isEmpty, "a document's split changed when the corpus shrank")
    // and the 80/10/10 target is roughly hit (md5 is uniform)
    val frac = full.groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = frac.values.sum.toDouble
    assert(frac("train") / n > 0.7 && frac("train") / n < 0.9)
  }

  test("q57 TF-IDF: ranks are 1..k, scores non-increasing, terms come from the doc") {
    val out = TextQueries.q57TfIdf(spark, sf0001).cache()
    try {
      val badRank = out.groupBy($"doc_id")
        .agg(collect_list(struct($"rnk", $"tfidf_r")).as("rs"))
        .where(exists($"rs", r => r.getField("rnk") > TextQueries.TfIdfTopK) ||
          size($"rs") =!= TextQueries.TfIdfTopK)
      assert(badRank.isEmpty)
      // non-increasing score within doc when ordered by rank
      val inverted = out.as("a").join(out.as("b"),
        $"a.doc_id" === $"b.doc_id" && $"a.rnk" < $"b.rnk" &&
          $"a.tfidf_r" < $"b.tfidf_r")
      assert(inverted.isEmpty)
      val foreign = out.join(Tables.documents(spark, sf0001), "doc_id")
        .where(!array_contains(split($"text", " "), $"term"))
      assert(foreign.isEmpty)
    } finally out.unpersist()
  }

  test("q58 sliding windows: every event lands in exactly length/hop = 2 windows") {
    val out = queries.RelationalQueries.q58SlidingWindow(spark, sf0001)
    val total = out.agg(sum($"n_events")).head().getLong(0)
    val events = Tables.events(spark, sf0001).count()
    assert(total == 2 * events)
    // hop-aligned starts
    assert(out.where(pmod($"window_start_s", lit(300L)) =!= 0L).isEmpty)
  }

  test("q59 Lloyd step: assignment is an argmax — never worse than keeping the old label") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = SimilarityQueries.labelCentroids(emb)
    val oldSim = emb.join(cents, $"label" === $"c_label")
      .select($"vec_id",
        round(SimilarityQueries.cosine($"embedding", $"centroid"), 6).as("old_sim"))
    val out = SimilarityQueries.q59KmeansAssign(spark, sf0001)
    assert(out.count() == emb.count())  // every vector assigned exactly once
    val worse = out.join(oldSim, "vec_id").where($"sim" < $"old_sim")
    assert(worse.isEmpty, "argmax assignment scored below the incumbent centroid")
    // the step makes progress on this corpus (labels ⟂ cosine structure)
    assert(out.agg(sum($"moved")).head().getLong(0) > 0)
  }
}
