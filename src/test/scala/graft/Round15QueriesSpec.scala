package graft

import org.apache.spark.sql.functions._

import graft.queries.{RelationalQueries, TextQueries}

/** Round-15 evaluation/audit additions: q161 exact Mann–Whitney AUC,
  * q162 Cohen's-kappa filter agreement, q163 join-key skew audit. */
class Round15QueriesSpec extends SparkSuite {
  import spark.implicits._

  // ---- q161 ----

  test("q161 fixture: tie-corrected AUC matches the hand count (ties at " +
      "margin 2 contribute half), perfect and inverted separation hit " +
      "1.0 / 0.0, and a single-class group emits NULL") {
    val sc = Seq(
      // en: pos {3, 2}, neg {1, 2} → U = 3 + ½ → AUC 3.5/4 = 0.875
      ("en", 3L, true), ("en", 2L, true), ("en", 1L, false), ("en", 2L, false),
      // pp: perfect separation → 1.0 ; qq: inverted → 0.0
      ("pp", 10L, true), ("pp", 11L, true), ("pp", 1L, false), ("pp", 2L, false),
      ("qq", 1L, true), ("qq", 2L, true), ("qq", 10L, false), ("qq", 11L, false),
      // zz: no negatives → AUC undefined
      ("zz", 5L, true), ("zz", 6L, true)
    ).toDF("lang", "m", "pos")
    val out = TextQueries.aucCore(spark, sc).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("en").getDouble(4) == 0.875)
    assert(out("en").getLong(1) == 2L && out("en").getLong(2) == 2L)
    assert(out("en").getLong(3) == 3L) // domain: margins {1,2,3}
    assert(out("pp").getDouble(4) == 1.0)
    assert(out("qq").getDouble(4) == 0.0)
    assert(out("zz").isNullAt(4), "single-class AUC must be NULL")
    // the '*' row is the GLOBAL ranking, not an average of groups —
    // check it against a brute-force pair count over the fixture
    val rows = sc.collect().map(r => (r.getLong(1), r.getBoolean(2)))
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val num2 = (for (p <- pos; q <- neg) yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    val want = num2.toDouble / (pos.length.toDouble * neg.length.toDouble * 2.0)
    assert(out("*").getDouble(4) == want)
  }

  test("q161 corpus: the audit flags the fixed-hash classifier as " +
      "anti-correlated with the rule gate on the overall ranking " +
      "(per-language values stay in range; tiny groups are noisy — " +
      "de at sf0.001 has N=4 and sits just above 0.5)") {
    val out = TextQueries.q161ClfAuc(spark, sf0001).collect()
    assert(out.length >= 2) // at least one lang + the '*' row
    val overall = out.find(_.getString(0) == "*").get
    assert(overall.getDouble(4) < 0.45,
      s"overall AUC should expose the anti-correlation, got ${overall.getDouble(4)}")
    out.filterNot(_.isNullAt(4)).foreach { r =>
      val auc = r.getDouble(4)
      assert(auc >= 0.0 && auc <= 1.0, s"lang ${r.getString(0)}: AUC $auc")
    }
  }

  // ---- q162 ----

  test("q162 fixture: identical raters give kappa 1.0 on every pair; " +
      "chance-level agreement lands near 0") {
    val r = Seq((true, true, true), (false, false, false),
      (true, true, true), (false, false, false))
      .toDF("rule", "clf", "lm")
    TextQueries.agreementCore(spark, r).collect().foreach { row =>
      assert(row.getDouble(5) == 1.0 && row.getDouble(6) == 1.0,
        s"pair ${row.getString(0)}: identical raters must agree perfectly")
    }
  }

  test("q162 fixture: a constant rater yields the well-defined kappa 0; " +
      "two identical constant raters have no chance correction (NULL)") {
    val r = Seq((true, true, true), (false, true, true), (true, true, true))
      .toDF("rule", "clf", "lm")
    val out = TextQueries.agreementCore(spark, r).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(out("rule_vs_clf").getDouble(6) == 0.0) // clf constant
    assert(out("rule_vs_lm").getDouble(6) == 0.0)  // lm constant
    assert(out("clf_vs_lm").isNullAt(6),            // both constant: pe = 1
      "two constant raters must emit NULL kappa")
  }

  test("q162 corpus: three pairs, po and kappa inside their ranges, and " +
      "the confusion counts of each pair sum to the corpus size") {
    val n = Tables.documents(spark, sf0001).count()
    val out = TextQueries.q162GateAgreement(spark, sf0001).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) == n)
      val po = r.getDouble(5)
      assert(po >= 0.0 && po <= 1.0)
      if (!r.isNullAt(6)) {
        val k = r.getDouble(6)
        assert(k >= -1.0 && k <= 1.0, s"pair ${r.getString(0)}: kappa $k")
      }
    }
  }

  // ---- q163 ----

  test("q163 fixture: exact distribution stats and ceil-of-imbalance salt " +
      "on a hand-built key column") {
    // a×6, b×2, c×2: rows 10, keys 3, max 6, p50 2, p99 6,
    // skew 6·3/10 = 1.8 → salt 2
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c")).toDF("k")
    val r = RelationalQueries.skewAuditOne(spark, df, "t", "k").collect()(0)
    assert(r.getLong(2) == 10L && r.getLong(3) == 3L && r.getLong(4) == 6L)
    assert(r.getLong(5) == 2L && r.getLong(6) == 6L)
    assert(r.getDouble(7) == 1.8 && r.getLong(8) == 2L)
  }

  test("q163 fixture: an exactly uniform key reads salt 1 (skew exactly " +
      "1.0 — the ceil only errs high once imbalance exists), a 90%-hot " +
      "key reads the fan-out that levels it") {
    val uni = (1 to 4).flatMap(k => Seq.fill(3)(s"k$k")).toDF("k")
    val u = RelationalQueries.skewAuditOne(spark, uni, "t", "k").collect()(0)
    assert(u.getDouble(7) == 1.0 && u.getLong(8) == 1L)
    // h×90 + 10 singletons: skew 90·11/100 = 9.9 → salt 10; p50 = 1
    val hot = (Seq.fill(90)("h") ++ (1 to 10).map(i => s"s$i")).toDF("k")
    val h = RelationalQueries.skewAuditOne(spark, hot, "t", "k").collect()(0)
    assert(h.getLong(4) == 90L && h.getLong(5) == 1L && h.getLong(6) == 90L)
    assert(h.getDouble(7) == 9.9 && h.getLong(8) == 10L)
  }

  // ---- q167 ----

  test("q167 fixture: hand-computed temperature plan — exact quantized " +
      "sqrt weights, α=½ boosts the small source, rate = expected epochs " +
      "at the quarter budget") {
    // source a: 9 tokens, source b: 1 token → w = 30000, 10000 exactly;
    // tgt shares 3/4, 1/4; budget = 10 div 4 = 2;
    // rate_a = (30000·2)/(40000·9) = 1/6, rate_b = (10000·2)/(40000·1) = 1/2
    val docs = Seq(("a", 3L), ("a", 3L), ("a", 3L), ("b", 1L))
      .toDF("source", "nt")
    val out = TextQueries.planCore(spark, docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(2) == 9L && out("b").getLong(2) == 1L)
    assert(out("a").getDouble(4) == 0.75 && out("b").getDouble(4) == 0.25)
    assert(out("a").getDouble(5) == 60000.0 / 360000.0)
    assert(out("b").getDouble(5) == 0.5)
    assert(!out("a").getBoolean(6) && !out("b").getBoolean(6))
    // α=½ boosts the low-resource source: target share above raw share
    assert(out("b").getDouble(4) > out("b").getDouble(3))
    assert(out("a").getDouble(4) < out("a").getDouble(3))
  }

  test("q167 corpus: shares each sum to 1 (exact integer numerators make " +
      "the double sums exact here), and Σ rate·n_tokens ≈ the budget") {
    val out = TextQueries.q167MixturePlan(spark, sf0001).collect()
    val rawSum = out.map(_.getDouble(3)).sum
    val tgtSum = out.map(_.getDouble(4)).sum
    assert(math.abs(rawSum - 1.0) < 1e-12 && math.abs(tgtSum - 1.0) < 1e-12)
    val t = out.map(_.getLong(2)).sum
    val planned = out.map(r => r.getDouble(5) * r.getLong(2)).sum
    assert(math.abs(planned - t / 4) <= 4.0,
      s"planned tokens $planned must meet the budget ${t / 4}")
  }

  // ---- randomized brute-force pins for the eval family ----

  /** Deterministic Gen sampler (PropertySpec's offline-cache pattern). */
  private def cases[A](gen: org.scalacheck.Gen[A], n: Int)(body: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(org.scalacheck.Gen.Parameters.default, seed)
        .foreach { a => body(a); i += 1 }
      seed = seed.next
    }
  }

  test("q161 property: aucCore equals the brute-force pair count on random " +
      "tie-heavy frames (per lang and for the '*' global row)") {
    import org.scalacheck.Gen
    val row = Gen.zip(Gen.oneOf("x", "y"), Gen.choose(-3L, 3L), Gen.oneOf(true, false))
    cases(Gen.nonEmptyListOf(row), 8) { rows =>
      val out = TextQueries.aucCore(spark, rows.toDF("lang", "m", "pos"))
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
      def brute(sel: Seq[(String, Long, Boolean)]): Option[Double] = {
        val pos = sel.filter(_._3).map(_._2)
        val neg = sel.filterNot(_._3).map(_._2)
        if (pos.isEmpty || neg.isEmpty) None
        else {
          val num2 = (for (p <- pos; q <- neg) yield
            if (p > q) 2L else if (p == q) 1L else 0L).sum
          Some(num2.toDouble / (pos.length.toDouble * neg.length.toDouble * 2.0))
        }
      }
      (rows.groupBy(_._1).map { case (l, sel) => l -> brute(sel) } +
        ("*" -> brute(rows))).foreach { case (l, want) =>
        assert(out(l) == want, s"lang $l: ${out(l)} != $want in $rows")
      }
    }
  }

  test("q165 property: calibCore partitions every frame (Σ n_docs = rows), " +
      "deciles are the exact ceil-rank of each value's cumulative count, " +
      "and decile ranges never overlap") {
    import org.scalacheck.Gen
    val row = Gen.zip(Gen.choose(-4L, 4L), Gen.oneOf(true, false))
    cases(Gen.nonEmptyListOf(row), 8) { rows =>
      val out = TextQueries.calibCore(spark, rows.toDF("m", "pos")).collect()
      assert(out.map(_.getLong(3)).sum == rows.length.toLong)
      // brute-force decile per value from the cumulative domain count
      val n = rows.length.toLong
      val dom = rows.groupBy(_._1).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1)
      var cum = 0L
      val want = dom.map { case (m, c) =>
        cum += c; m -> ((cum * 10L + n - 1L) / n)
      }.toMap
      out.foreach { r =>
        (r.getLong(1) to r.getLong(2)).filter(want.contains).foreach { m =>
          assert(want(m) == r.getLong(0),
            s"value $m should land in decile ${want(m)}, not ${r.getLong(0)}")
        }
      }
      val spans = out.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      spans.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) => assert(hi < lo2, "overlapping deciles")
        case _ =>
      }
    }
  }

  // ---- q165 ----

  test("q165 fixture: exact-rank deciles — distinct scores land on their " +
      "ceil-rank decile (missing deciles are legitimate), a fully tied " +
      "domain collapses into one decile, lift is the exact rate ratio") {
    // 5 distinct scores, one doc each, positives at m=4,5:
    // decile(m) = ceil(cum*10/5) = 2,4,6,8,10
    val sc = Seq((1L, false), (2L, false), (3L, false), (4L, true), (5L, true))
      .toDF("m", "pos")
    val out = TextQueries.calibCore(spark, sc).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 4L, 6L, 8L, 10L))
    out.foreach(r => assert(r.getLong(1) == r.getLong(2))) // lo == hi == m
    assert(out.map(_.getDouble(5)).toSeq == Seq(0.0, 0.0, 0.0, 1.0, 1.0))
    // lift of a positive decile: (1 * 5) / (1 * 2) = 2.5
    assert(out.last.getDouble(6) == 2.5)
    // one tied value: the whole domain row lands in decile 10
    val tied = Seq.fill(6)((7L, true)).++(Seq.fill(4)((7L, false))).toDF("m", "pos")
    val t = TextQueries.calibCore(spark, tied).collect()
    assert(t.length == 1 && t(0).getLong(0) == 10L && t(0).getLong(3) == 10L
      && t(0).getDouble(5) == 0.6 && t(0).getDouble(6) == 1.0)
  }

  test("q165 corpus: deciles partition the corpus, and the lift profile " +
      "agrees with q161's verdict (anti-correlated: the top decile does " +
      "not beat the bottom)") {
    val out = TextQueries.q165CalibrationTable(spark, sf0001).collect()
    val n = Tables.documents(spark, sf0001).count()
    assert(out.map(_.getLong(3)).sum == n)
    assert(out.head.getDouble(5) >= out.last.getDouble(5),
      "an anti-correlated score must not show a rising lift profile")
  }

  // ---- q164 ----

  test("q164: the leakage list re-derives from q26's pairs + q56's split " +
      "rule brute-force — every leaked eval doc found, no train doc or " +
      "clean eval doc reported, counts and max-jaccard exact") {
    import graft.queries.DedupQueries
    val out = DedupQueries.q164SplitLeakage(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // independent derivation: q26 pairs + splitAssign on the ids
    val pairs = DedupQueries.q26MinhashPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toSeq.toDF("id")
    val split = ids.select($"id",
      graft.queries.TextQueries.splitAssign($"id").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val leaks = (pairs.map(p => (p._1, p._2, p._3)) ++
        pairs.map(p => (p._2, p._1, p._3)))
      .filter { case (e, o, _) => split(e) != "train" && split(o) == "train" }
      .groupBy(_._1)
    assert(out.keySet == leaks.keySet)
    leaks.foreach { case (id, ls) =>
      val (sp, n, mj) = out(id)
      assert(sp == split(id) && n == ls.length && mj == ls.map(_._3).max)
    }
    assert(out.nonEmpty, "fixture corpus should exhibit some leakage")
  }

  test("q163 corpus: four audited keys, every column internally " +
      "consistent (p50 ≤ p99 ≤ max, salt = max(1, ⌈skew⌉))") {
    val out = RelationalQueries.q163SkewAudit(spark, sf0001).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getLong(5) <= r.getLong(6) && r.getLong(6) <= r.getLong(4))
      assert(r.getLong(8) == math.max(1L, math.ceil(r.getDouble(7)).toLong))
      assert(r.getLong(2) >= r.getLong(3)) // rows ≥ keys
    }
  }
}
