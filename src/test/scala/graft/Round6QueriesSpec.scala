package graft

import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, GraphQueries, TextQueries}

/** Value semantics of the round-6 queries (q82, q83, q85, q86) — the
  * invariants the DuckDB oracle can't state directly. */
class Round6QueriesSpec extends SparkSuite {
  import spark.implicits._

  test("q82 converges: stopping rule honored, ranks at the teleport floor") {
    val out = GraphQueries.q82PagerankConverge(spark, sf0001).cache()
    val row = out.select($"n_iters", $"converged", $"linf_delta").head()
    assert(row.getBoolean(1), "loop exited without convergence inside the cap")
    assert(row.getLong(0) >= 1 && row.getLong(0) < GraphQueries.PrMaxIters)
    assert(row.getDouble(2) < GraphQueries.PrEps)
    // every rank carries at least the teleport mass, and the total mass
    // is conserved near the node count (PageRank in the unnormalized
    // per-node form: Σr = 0.15·n + 0.85·Σcontrib ≈ n at the fixed point)
    val n = out.count().toDouble
    assert(out.where($"rank" < 0.15).isEmpty)
    val mass = out.agg(sum($"rank")).head().getDouble(0)
    assert(math.abs(mass - n) / n < 0.01, s"rank mass $mass vs n=$n")
    out.unpersist()
  }

  test("q82 stops LATER than a looser tolerance would — the ε is load-bearing") {
    val iters = GraphQueries.q82PagerankConverge(spark, sf0001)
      .select($"n_iters").head().getLong(0)
    // the measured trajectory contracts ~10× per round; a loop that ran
    // to the cap or stopped on round 1 would mean the stop test is wired
    // to the wrong delta
    assert(iters >= 3, s"converged suspiciously fast ($iters rounds)")
  }

  test("q83 exact-copy documents are 100% corpus-duplicated") {
    val frac = DedupQueries.q83DupGramFraction(spark, sf0001).cache()
    // every doc whose full text has an exact copy elsewhere (q24 groups
    // with n_copies > 1) must score dup_frac = 1.0: each of its grams
    // occurs verbatim in the copy, so df >= 2 for all of them
    val copied = Tables.documents(spark, sf0001)
      .groupBy(md5($"text").as("h")).agg(collect_list($"doc_id").as("ids"))
      .where(size($"ids") > 1)
      .select(explode($"ids").as("doc_id"))
    val notFull = frac.join(copied, "doc_id").where($"dup_frac" < 1.0)
    assert(notFull.isEmpty, "an exact-duplicate doc scored dup_frac < 1")
    // bounds + verdict consistency
    assert(frac.where($"n_dup" > $"n_grams" || $"n_dup" < 0).isEmpty)
    assert(frac.where($"keep" =!= ($"n_dup".cast("double") / $"n_grams" <= DedupQueries.DupFracMax)).isEmpty)
    frac.unpersist()
  }

  test("q85 sqrt-temperature boosts the tail: expected rate decreases with corpus share") {
    val out = TextQueries.q85TemperatureMix(spark, sf0001)
      .orderBy($"n_docs").collect()
    assert(out.length > 1)
    val nCorpus = out.map(_.getAs[Long]("n_docs")).sum
    val sw = out.map(_.getAs[Long]("w")).sum
    val nTarget = nCorpus / 2
    // the EXPECTED rate min(1, n_target·w/(Σw·n)) ∝ 1/√n is monotone;
    // the realized rate adds binomial noise on top, so per language we
    // assert the draw lands inside its 6σ CI around the expected rate
    // (the q40 discipline) rather than comparing noisy realizations
    def p(r: org.apache.spark.sql.Row): Double =
      math.min(1.0, nTarget.toDouble * r.getAs[Long]("w") /
        (sw.toDouble * r.getAs[Long]("n_docs")))
    out.sliding(2).foreach { case Array(small, big) =>
      assert(p(small) >= p(big) - 1e-12, s"expected rate not monotone: $small vs $big")
    }
    out.foreach { r =>
      val (n, drawn) = (r.getAs[Long]("n_docs").toDouble, r.getAs[Long]("n_sampled").toDouble)
      val mu = p(r) * n
      val sigma = math.sqrt(n * p(r) * (1 - p(r)))
      assert(math.abs(drawn - mu) <= 6 * sigma + 1,
        s"draw $drawn outside 6σ of $mu for $r")
    }
    // and the tail IS boosted: the smallest language's expected rate
    // strictly exceeds the largest's (they differ in n)
    if (out.head.getAs[Long]("n_docs") < out.last.getAs[Long]("n_docs"))
      assert(p(out.head) > p(out.last))
  }

  test("q88 keeper is a member with the cluster-minimal (dup_frac, doc_id)") {
    val out = DedupQueries.q88ClusterKeeper(spark, sf0001).cache()
    val clusters = DedupQueries.q49DedupClusters(spark, sf0001)
    val quality = DedupQueries.q83DupGramFraction(spark, sf0001)
      .select($"doc_id", $"dup_frac")
    // every clustered doc is accounted for, exactly once
    assert(out.agg(sum($"n_members")).head().getLong(0) == clusters.count())
    // the keeper belongs to its own cluster...
    val members = clusters.join(quality, "doc_id")
    val bad = out.join(members,
        out("cluster_id") === members("cluster_id") &&
          out("keeper_id") === members("doc_id"))
      .where(out("keeper_dup_frac") =!= members("dup_frac"))
    assert(bad.isEmpty, "keeper_dup_frac disagrees with the member's own dup_frac")
    // ...and no member beats it on (dup_frac, doc_id)
    val beaten = out.join(members, Seq("cluster_id"))
      .where(members("dup_frac") < out("keeper_dup_frac") ||
        (members("dup_frac") === out("keeper_dup_frac") &&
          members("doc_id") < out("keeper_id")))
    assert(beaten.isEmpty, "a cluster member outranks its keeper")
    out.unpersist()
  }

  test("q89 incremental dedup equals the batch-crossing slice of a full run") {
    val inc = DedupQueries.q89IncrementalDedup(spark, sf0001)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val full = DedupQueries.q26MinhashPairs(spark, sf0001)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) =>  // exactly one side in the batch
        (a % DedupQueries.IncBatchMod == 0) != (b % DedupQueries.IncBatchMod == 0) }
      .toSet
    assert(full.nonEmpty, "no cross-batch near-dups — test is vacuous")
    assert(inc == full,
      s"incremental missed ${full -- inc} / invented ${inc -- full}")
  }

  test("q90 semantic decontamination: verdicts match the cut, benchmark excluded") {
    import graft.queries.SimilarityQueries
    val out = SimilarityQueries.q90SemanticDecontam(spark, sf0001).cache()
    // no benchmark vector scores itself (the split is disjoint)
    assert(out.where($"vec_id" % SimilarityQueries.SemDecontamMod === 0).isEmpty)
    // verdict == threshold test, and the cut actually separates: both
    // classes present on this corpus (clusters straddle the holdout)
    assert(out.where($"contaminated" =!=
      ($"max_sim" >= SimilarityQueries.SemDecontamThreshold)).isEmpty)
    val n = out.count()
    val flagged = out.where($"contaminated").count()
    assert(flagged > 0 && flagged < n, s"degenerate verdict split: $flagged/$n")
    out.unpersist()
  }

  test("q91 LM scores: bigram counts line up with q20, identical texts tie") {
    val out = TextQueries.q91LmQualityFilter(spark, sf0001).cache()
    // every scored doc has n_bigrams == n_tokens - 1 (nothing dropped by
    // the model join: the model was built FROM these occurrences)
    val toks = TextQueries.q20TextStats(spark, sf0001)
      .select($"doc_id", $"n_tokens")
    val bad = out.join(toks, "doc_id")
      .where($"n_bigrams" =!= ($"n_tokens" - 1))
    assert(bad.isEmpty, "a document lost bigrams on the model join")
    // identical texts get identical scores (score is a pure text function)
    val withText = Tables.documents(spark, sf0001).select($"doc_id", $"text")
      .join(out, "doc_id")
    val diverged = withText.groupBy($"text")
      .agg(countDistinct($"avg_prob").as("k")).where($"k" > 1)
    assert(diverged.isEmpty, "exact-duplicate texts scored differently")
    // the gate separates on this corpus
    val (n, kept) = (out.count(), out.where($"keep").count())
    assert(kept > 0 && kept < n, s"degenerate keep split: $kept/$n")
    out.unpersist()
  }

  test("q86 banding is lossless: pairs equal the quadratic Hamming truth") {
    val banded = DedupQueries.q86SimhashPairs(spark, sf0001)
      .select($"doc_a", $"doc_b", $"hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sims = Tables.documents(spark, sf0001)
      .select($"doc_id",
        DedupQueries.simhashBits(DedupQueries.h60(_), DedupQueries.SimBits)($"text").as("sim"))
      .cache()
    val truth = sims.as("a").join(sims.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        expr("bit_count(a.sim ^ b.sim)").cast("long").as("hamming"))
      .where($"hamming" <= DedupQueries.HamMax)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    sims.unpersist()
    assert(truth.nonEmpty, "corpus has no Hamming near-dups — test is vacuous")
    assert(banded == truth,
      s"banding lost ${truth -- banded} / invented ${banded -- truth}")
  }
}
