package graft

import org.apache.spark.sql.functions._

import graft.queries.{ComposeQueries, DedupQueries, EtlQueries, TextQueries}

/** Round-8 additions: q99 URL-canonicalization dedup and the q100
  * end-to-end pipeline-verdict composition. */
class Round8QueriesSpec extends SparkSuite {
  import spark.implicits._

  // ---- q99: URL canonicalization ----

  test("q99 canonicalUrl applies each rule; path case is preserved") {
    val cases = Seq(
      // scheme/www/port/fragment dropped, host lowered, tracking params
      // filtered, trailing slash stripped — all at once
      ("https://WWW.Example.COM:443/A/b/?utm_source=x&id=2#frag", "example.com/A/b?id=2"),
      // the same page over plain http canonicalizes identically
      ("http://example.com/A/b?id=2", "example.com/A/b?id=2"),
      ("http://www.example.com:80/path", "example.com/path"),
      ("https://example.com/path/", "example.com/path"),
      // host case folds, PATH case does not
      ("https://EXAMPLE.com/CaseSensitive", "example.com/CaseSensitive"),
      // all-tracking query vanishes entirely (no dangling '?')
      ("https://example.com/p?gclid=1&fbclid=2&ref=3&utm_campaign=z", "example.com/p"),
      // surviving params are sorted so param order can't split a group
      ("https://example.com/p?b=2&a=1", "example.com/p?a=1&b=2"))
    val got = cases.map(_._1).toDF("url")
      .select($"url", DedupQueries.canonicalUrl($"url").as("c")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (u, want) => assert(got(u) == want, s"canonical($u)") }
  }

  test("q99 groups partition the corpus and keepers are group maxima") {
    val out = DedupQueries.q99UrlDedup(spark, sf0001).collect()
    val n = Tables.documents(spark, sf0001).count()
    assert(out.map(_.getAs[Long]("n_copies")).sum == n,
      "every document must land in exactly one canonical group")
    assert(out.exists(_.getAs[Long]("n_copies") > 1), "fixture mods must collide")
    val chars = Tables.documents(spark, sf0001)
      .select($"doc_id", $"n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(chars(r.getAs[Long]("keeper_id")) == r.getAs[Long]("keeper_chars"),
        "keeper_chars must be the keeper's own length (and the group max)")
    }
  }

  // ---- q105: span corruption ----

  test("q105 is lossless: splicing each target span back at its sentinel rebuilds the text") {
    val out = TextQueries.q105SpanCorruption(spark, sf0001).collect()
    val texts = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sentinel = "<extra_id_(\\d+)>".r
    var totalSpans = 0L
    var totalBlocks = 0L
    out.foreach { r =>
      val (doc, nSpans, input, target) =
        (r.getLong(0), r.getAs[Long]("n_spans"), r.getString(2), r.getString(3))
      // parse target into sentinel -> tokens
      val spans = scala.collection.mutable.Map[String, Vector[String]]()
      var cur: String = null
      target.split(" ").filter(_.nonEmpty).foreach {
        case t @ sentinel(_) => cur = t; spans(cur) = Vector()
        case t => assert(cur != null, s"doc $doc target starts without sentinel"); spans(cur) :+= t
      }
      assert(spans.size == nSpans, s"doc $doc sentinel count != n_spans")
      spans.values.foreach(v => assert(v.nonEmpty && v.size <= 3,
        s"doc $doc span length ${v.size} outside 1..3"))
      val rebuilt = input.split(" ").flatMap {
        case t @ sentinel(_) => t +: spans(t) // keep sentinel position marker
        case t => Seq(t)
      }
      // dropping the sentinels yields the original token stream
      val original = rebuilt.filterNot(t => sentinel.matches(t)).mkString(" ")
      assert(original == texts(doc), s"doc $doc did not reconstruct")
      totalSpans += nSpans
      totalBlocks += (texts(doc).split(" ").length + TextQueries.MaskBlock - 1) /
        TextQueries.MaskBlock
    }
    // the md5 coin selects ~1/MaskMod of blocks (modulo span-start existence)
    val rate = totalSpans.toDouble / totalBlocks
    assert(rate > 0.15 && rate < 0.35, s"selection rate $rate far from 1/${TextQueries.MaskMod}")
  }

  // ---- q104: source-pair similarity matrix ----

  test("q104 source signatures carry minhash UNION semantics (min of doc sigs)") {
    // the source-level signature computed from the source's distinct
    // shingle set must equal the componentwise MIN of its documents' q25
    // signatures — the associativity that lets signatures partial-
    // aggregate at any granularity (doc → partition → source)
    val srcOf = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source")
    val docSigs = DedupQueries.minhashSignatures(
      Tables.documents(spark, sf0001)
        .select($"doc_id", DedupQueries.shingles($"text").as("shingles")))
    val minCols = (0 until DedupQueries.NumHashes)
      .map(j => min(col(s"mh_$j")).as(s"mh_$j"))
    val fromDocs = docSigs.join(srcOf, "doc_id")
      .groupBy($"source").agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getString(0) ->
        (0 until DedupQueries.NumHashes).map(j => r.getAs[Long](s"mh_$j"))).toMap
    val occ = Tables.documents(spark, sf0001)
      .select($"source", explode(DedupQueries.shingles($"text")).as("sh"))
      .select($"source", DedupQueries.h60($"sh").as("h")).distinct()
    val hashCols = (0 until DedupQueries.NumHashes).map(j =>
      min(DedupQueries.h60(concat(lit(s"$j:"), $"h".cast("string")))).as(s"mh_$j"))
    val direct = occ.groupBy($"source").agg(hashCols.head, hashCols.tail: _*)
      .collect().map(r => r.getString(0) ->
        (0 until DedupQueries.NumHashes).map(j => r.getAs[Long](s"mh_$j"))).toMap
    assert(direct.keySet == fromDocs.keySet)
    direct.keys.foreach { s =>
      assert(direct(s) == fromDocs(s), s"source $s signature diverged from min-of-doc-sigs")
    }
  }

  // ---- q102: hard-negative mining ----

  test("q102 negatives are wrong-class and are the true top-k among them") {
    import graft.queries.SimilarityQueries
    val out = SimilarityQueries.q102HardNegatives(spark, sf0001).collect()
    val labels = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // no negative shares its query's label
    out.foreach { r =>
      assert(labels(r.getAs[Long]("negative_id")) != labels(r.getAs[Long]("query_id")),
        s"query ${r.get(0)} mined a same-class 'negative'")
    }
    // local truth: rank ALL wrong-label candidates by (sim desc, id)
    val vecs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.rint(r * 1e6) / 1e6
    }
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val truth = vecs.keys.filter(v => labels(v) != labels(q)).toSeq
        .map(v => (-cos(vecs(q), vecs(v)), v)).sorted
        .take(SimilarityQueries.TopK).map(_._2)
      val got = rows.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("negative_id")).toSeq
      assert(got == truth, s"query $q hard negatives diverged from local truth")
    }
  }

  // ---- q103: Gopher symbol / alpha-word gate ----

  test("q103 pins each character-class rule on a crafted corpus") {
    val dir = tmpDir("q103docs")
    Seq(
      (1L, "perfectly ordinary alphabetic words here"),           // keep
      (2L, "1 2 3 4 5 6 7 8 9 10 only numbers"),                  // alpha-word rule
      (3L, "id 123456789012345678901234567890123456789012 x y"),  // digit fraction
      (4L, "# # # # tag spam in a short doc of nine words"),      // hash symbols
      (5L, "trailing ... dots ... everywhere ... in ... text"),   // ellipsis
      (6L, "a1 b2 c3 mixed alnum words still count as alpha")     // keep
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = TextQueries.q103SymbolFilter(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_alpha_words"), r.getAs[Long]("n_digit"),
          r.getAs[Long]("n_hash"), r.getAs[Long]("n_ellipsis"),
          r.getAs[Boolean]("keep"))).toMap
    assert(out(1L)._5, "clean doc must keep")
    assert(!out(2L)._5 && out(2L)._1 == 2L, "10 numeric words of 12 fail the 80% alpha rule")
    assert(!out(3L)._5, "digit flood fails the 20% digit cap")
    assert(!out(4L)._5 && out(4L)._3 == 4L, "4 hashes in 13 words exceed 10%")
    assert(!out(5L)._5 && out(5L)._4 == 4L, "4 ellipses in 8 words exceed 10%")
    assert(out(6L)._5, "alphanumeric words count as alphabetic")
  }

  // ---- q100: pipeline verdict composition ----

  /** Crafted corpus exercising every reason code — including the two the
    * synthetic testdata never produces (bad_encoding, exact_dup) — and
    * the sequential rule that a stage only sees prior survivors. */
  private def pipelineFixture(): String = {
    val dir = tmpDir("q100docs")
    def toks(prefix: String, n: Int): String =
      (1 to n).map(i => s"${prefix}w$i").mkString(" ")
    val dupText = toks("e", 30)
    val nearBase = (1 to 40).map(i => s"nw$i").mkString(" ")
    val quota = (11 to 22).map(i => (i.toLong, "qsrc", toks(s"q$i", 30)))
    (Seq(
      // doc 0: benchmark member (0 % 97 == 0); its shingles contaminate
      (0L, "s0", "alpha beta gamma delta epsilon zeta eta"),
      (1L, "s1", toks("a", 30)),                       // kept
      (2L, "s2", toks("b", 30) + " �"),           // bad_encoding
      (3L, "s3", "tiny"),                              // low_quality
      (4L, "s4", dupText),                             // exact keeper → kept
      (5L, "s5", dupText),                             // exact_dup
      (8L, "s8", nearBase),                            // near-dup keeper → kept
      (9L, "s9", nearBase + " extraZ"),                // near_dup (J = 38/39)
      (10L, "s10", toks("c", 27) + " alpha beta gamma") // contaminated
    ) ++ quota).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q100 emits every reason code with sequential stage semantics") {
    val out = ComposeQueries.q100PipelineVerdict(spark, pipelineFixture())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "benchmark")
    assert(out(1L) == "kept")
    assert(out(2L) == "bad_encoding")
    assert(out(3L) == "low_quality")
    // sequential: doc 5 dies at EXACT dedup, so the near-dup stage sees
    // doc 4 as a singleton — keeper survives, no spurious near_dup
    assert(out(4L) == "kept")
    assert(out(5L) == "exact_dup")
    assert(out(8L) == "kept")
    assert(out(9L) == "near_dup")
    assert(out(10L) == "contaminated")
    // 12 clean docs share one source: exactly SourceQuota survive
    val quotaGroup = (11L to 22L).map(out)
    assert(quotaGroup.count(_ == "kept") == TextQueries.SourceQuota)
    assert(quotaGroup.count(_ == "quota") == 12 - TextQueries.SourceQuota)
  }

  // ---- q101: weighted reservoir (A-ES) ----

  test("q101 reservoir is merge-invariant: any partitioning yields the k global winners") {
    import org.apache.spark.sql.Dataset
    def sample(parts: Int): Array[(String, Long)] = {
      val ds: Dataset[(String, Long, Int)] = (0L until 400L)
        .map(i => (s"s${i % 7}", i, 1 + (i % 5).toInt)).toDS().repartition(parts)
      ds.groupByKey(_._1).mapValues(t => (t._2, t._3))
        .agg(new graft.functions.WeightedReservoir(4).toColumn.name("sm"))
        .toDF("st", "sm")
        .select($"st", explode($"sm").as("e"))
        .select($"st", $"e._1".as("id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted
    }
    val one = sample(1)
    assert(one.length == 7 * 4)
    assert(sample(13).sameElements(one), "sample must not depend on partitioning")
  }

  test("q101 aggregator equals the global min-k by (ticket, id) per stratum") {
    val out = queries.EtlQueries.q101WeightedSample(spark, sf0001).collect()
    // independent truth: rank ALL docs by the same deterministic ticket
    // (recomputed via the column-side md5 path, not the aggregator's JVM
    // digest) and take k per stratum
    val truth = Tables.documents(spark, sf0001)
      .select($"lang", $"doc_id",
        explode(sequence(lit(1L), lit(1L) + $"doc_id" % 8L)).as("j"))
      .select($"lang", $"doc_id",
        DedupQueries.h60(concat($"doc_id".cast("string"), lit(":"),
          $"j".cast("string")).cast("binary")).as("t"))
      .groupBy($"lang", $"doc_id").agg(min($"t").as("ticket"))
      .collect().groupBy(_.getString(0)).view.mapValues(
        _.map(r => (r.getAs[Long]("ticket"), r.getLong(1))).sorted
          .take(queries.EtlQueries.WrsK).map(_._2).toSeq).toMap
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val got = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("doc_id")).toSeq
      assert(got == truth(lang), s"stratum $lang sample diverged from global min-k")
    }
  }

  test("q101 weight race: heavier items win their stratum far more often") {
    // 2-item strata, weights 8 vs 1, k=1: A-ES says the heavy item wins
    // with probability 8/9 ≈ 0.889; over 300 deterministic strata the
    // observed rate must sit near it (md5 tickets are fixed, not random —
    // this pins that the DETERMINIZATION preserves the weighting)
    val ds = (0 until 300).flatMap { g =>
      Seq((s"g$g", 2L * g, 8), (s"g$g", 2L * g + 1, 1))
    }.toDS()
    val winners = ds.groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(new graft.functions.WeightedReservoir(1).toColumn.name("sm"))
      .collect().map { case (_, sm) => sm.head._1 }
    val heavyWins = winners.count(_ % 2 == 0)
    assert(heavyWins >= 240 && heavyWins <= 290,
      s"heavy item won $heavyWins/300 strata; expected ~267 (8/9)")
  }

  test("q100 on testdata: verdicts partition the corpus and agree with the gates") {
    val out = ComposeQueries.q100PipelineVerdict(spark, sf0001).cache()
    try {
      assert(out.count() == Tables.documents(spark, sf0001).count(),
        "one verdict per document")
      // the first two stages must agree row-for-row with the standalone
      // constituent queries (composition cannot drift from the parts)
      val enc = TextQueries.q98EncodingFilter(spark, sf0001)
        .select($"doc_id", $"keep".as("enc_ok"))
      val bad = out.join(enc, "doc_id")
        .where(($"verdict" === "bad_encoding") =!=
          (!$"enc_ok" && $"doc_id" % DedupQueries.DecontamMod =!= 0))
      assert(bad.isEmpty, "bad_encoding verdicts must match q98's gate exactly")
      val qual = TextQueries.q21TextQuality(spark, sf0001)
        .select($"doc_id", $"quality_ok")
      val badQ = out.join(enc, "doc_id").join(qual, "doc_id")
        .where(($"verdict" === "low_quality") =!=
          ($"enc_ok" && !$"quality_ok" && $"doc_id" % DedupQueries.DecontamMod =!= 0))
      assert(badQ.isEmpty, "low_quality verdicts must match q21's gate among encoding survivors")
    } finally out.unpersist()
  }

  // ---- q106: duplicate-segment removal with rebuild ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q106 removes later duplicate segments, keeps first occurrences, rebuilds text") {
    val s8a = "a1 a2 a3 a4 a5 a6 a7 a8"
    val s8b = "b1 b2 b3 b4 b5 b6 b7 b8"
    val s8c = "c1 c2 c3 c4 c5 c6 c7 c8"
    val tail = "t1 t2 t3" // 19-token doc: last segment is the 3-token tail
    val docs = Seq(
      (1L, s"$s8a $s8b"),       // both segments are first occurrences
      (2L, s"$s8b $s8c $tail"), // s8b removed; s8c and the tail survive
      (3L, s"$s8a $s8b")        // every segment already seen → empty rebuild
    ).toDF("doc_id", "text")
    val out = DedupQueries.segmentDedupCore(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_kept") == 2 &&
      out(1L).getAs[Long]("n_toks_kept") == 16)
    assert(out(1L).getAs[String]("rebuilt_md5") == md5hex(s"$s8a $s8b"))
    assert(out(2L).getAs[Long]("n_segs") == 3 &&
      out(2L).getAs[Long]("n_kept") == 2 &&
      out(2L).getAs[Long]("n_toks_kept") == 11)
    assert(out(2L).getAs[String]("rebuilt_md5") == md5hex(s"$s8c $tail"),
      "rebuild must preserve segment order and drop only the duplicate")
    assert(out(3L).getAs[Long]("n_kept") == 0 &&
      out(3L).getAs[Long]("n_toks_kept") == 0)
    assert(out(3L).getAs[String]("rebuilt_md5") == md5hex(""),
      "an all-duplicate document rebuilds to the empty string")
  }

  test("q106 on the corpus: kept never exceeds minted, and duplicates exist") {
    val out = DedupQueries.q106SegmentDedup(spark, sf0001)
    val agg = out.agg(sum($"n_toks_kept"), sum($"n_segs"), sum($"n_kept"))
      .collect()(0)
    val total = Tables.documents(spark, sf0001)
      .select(sum(size(split($"text", " ")).cast("long"))).collect()(0).getLong(0)
    assert(agg.getLong(0) <= total, "kept tokens cannot exceed corpus tokens")
    assert(out.where($"n_kept" > $"n_segs").isEmpty)
    assert(agg.getLong(2) < agg.getLong(1),
      "the synthetic corpus repeats 8-token segments; some must be removed")
  }

  // ---- q107: hashed linear classifier ----

  /** Reference scorer: the same md5-prefix hash → bucket → Knuth-spread
    * weight chain, computed independently of any Spark expression. */
  private def refMargin(text: String): (Long, Long) = {
    val t = text.split(" ")
    val feats = t.toSeq ++ t.toSeq.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    val m = feats.map { f =>
      val hex = md5hex(f).take(8)
      val h = java.lang.Long.parseLong(hex, 16)
      (h % TextQueries.ClfBuckets) * 2654435761L % 1001L - 500L
    }.sum
    (feats.size.toLong, m)
  }

  test("q107 margin matches an independent scalar re-computation; keep is margin>0") {
    val docs = Seq(
      (1L, "the fast key order sort"),
      (2L, "solo"), // single token: no bigrams, n_feats == 1
      (3L, "merge join merge join merge") // repeated features count per occurrence
    ).toDF("doc_id", "text")
    val out = TextQueries.classifierCore(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L -> "the fast key order sort", 2L -> "solo",
      3L -> "merge join merge join merge").foreach { case (id, text) =>
      val (nf, m) = refMargin(text)
      assert(out(id).getAs[Long]("n_feats") == nf, s"doc $id n_feats")
      assert(out(id).getAs[Long]("margin") == m, s"doc $id margin")
      assert(out(id).getAs[Boolean]("keep") == (m > 0), s"doc $id keep")
      assert(out(id).getAs[Double]("avg_w") == m.toDouble / nf, s"doc $id avg_w")
    }
  }

  test("q107 is map-only: scoring adds no shuffle beyond the output sort") {
    val n = countShuffles(
      TextQueries.classifierCore(spark, Tables.documents(spark, sf0001)))
    assert(n <= 1, s"expected only the orderBy exchange, got $n")
  }

  // ---- q108: deterministic shard manifest ----

  test("q108 shards partition the corpus and the checksum is partitioning-invariant") {
    val docs = Tables.documents(spark, sf0001)
    val base = EtlQueries.shardManifestCore(spark, docs).collect()
    assert(base.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "every document lands in exactly one shard")
    assert(base.length == EtlQueries.NShards,
      "md5 sharding must hit all shards at 500 docs")
    // the reproducibility contract: a different input partitioning must
    // yield the identical manifest, order checksums included
    val reparted = EtlQueries.shardManifestCore(spark, docs.repartition(7)).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("shard"), r.getAs[Long]("order_checksum"),
        r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))).toSet
    assert(key(base) == key(reparted),
      "global hash order (and so the checksum) must not depend on partitioning")
  }

  // ---- q109: token-budget curriculum selection ----

  test("q109 keeps a quality-ranked prefix that lands exactly on the token budget") {
    val out = TextQueries.q109BudgetSelect(spark, sf0001).collect()
    val total = out.map(_.getAs[Long]("n_tokens")).sum
    val budget = total / TextQueries.BudgetDen
    val kept = out.filter(_.getAs[Boolean]("keep"))
    // keeps are precisely ranks 1..k — a prefix of the ranking, no holes
    assert(kept.map(_.getAs[Long]("sel_rank")).sorted.toSeq ==
      (1 to kept.length).map(_.toLong), "kept set must be a rank prefix")
    // greedy boundary: spent ≥ budget (boundary doc included) and
    // removing the boundary doc would drop below budget
    val spent = kept.map(_.getAs[Long]("n_tokens")).sum
    val lastKept = kept.maxBy(_.getAs[Long]("sel_rank"))
    assert(spent >= budget && spent - lastKept.getAs[Long]("n_tokens") < budget,
      s"spent=$spent budget=$budget must bracket the boundary document")
    // ranking is by margin desc, doc_id asc
    val ranked = out.sortBy(_.getAs[Long]("sel_rank"))
      .map(r => (r.getAs[Long]("margin"), r.getAs[Long]("doc_id")))
    assert(ranked.sliding(2).forall { case Array((m1, d1), (m2, d2)) =>
      m1 > m2 || (m1 == m2 && d1 < d2) }, "order must be margin desc, doc_id asc")
    // cum_before is consistent: each row's cum equals the running sum
    var run = 0L
    out.sortBy(_.getAs[Long]("sel_rank")).foreach { r =>
      assert(r.getAs[Long]("cum_before") == run, s"cum at rank ${r.getAs[Long]("sel_rank")}")
      run += r.getAs[Long]("n_tokens")
    }
  }

  // ---- q110: SemDeDup ----

  /** 64-dim unit vector pointing at `deg` degrees in the (0,1) plane. */
  private def unitAt(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array.tabulate(64)(i =>
      if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
  }

  test("q110 groups transitively within a cluster and keeps the centroid outlier") {
    import graft.queries.SimilarityQueries
    // label 0: a(0°)~b(40°) and b~c(80°) are dups (cos40°≈0.77 ≥ 0.35) but
    // a~c (cos80°≈0.17) is NOT — transitive closure must still give one
    // group {a,b,c}. d(170°) is near-opposite: a singleton in the same
    // cluster. label 1: one lone vector, trivially kept.
    val rows = Seq(
      (1L, unitAt(0), 0), (2L, unitAt(40), 0), (3L, unitAt(80), 0),
      (4L, unitAt(170), 0), (5L, unitAt(10), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = SimilarityQueries.semDedupCore(spark, emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    // one transitive group {1,2,3} with cluster_id = min id = 1
    assert(Seq(1L, 2L, 3L).forall(out(_).getAs[Long]("cluster_id") == 1L),
      "chain a~b~c must collapse into one component despite a~c being sub-threshold")
    assert(Seq(1L, 2L, 3L).forall(out(_).getAs[Long]("n_comp") == 3L))
    // keeper = lowest cosine-to-centroid: centroid of {0°,40°,80°,170°}
    // points ≈64°, so the 170° member is the group-independent outlier —
    // but it's a singleton; within {a,b,c} the outlier is a (0°)
    val kept = Seq(1L, 2L, 3L).filter(out(_).getAs[Boolean]("keep"))
    assert(kept == Seq(1L), s"group keeper must be the centroid outlier a, got $kept")
    // singletons keep themselves
    assert(out(4L).getAs[Boolean]("keep") && out(4L).getAs[Long]("n_comp") == 1L)
    assert(out(5L).getAs[Boolean]("keep") && out(5L).getAs[Long]("cluster_id") == 5L)
    // exactly one keeper per cluster
    val byCluster = out.values.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (c, rs) =>
      assert(rs.count(_.getAs[Boolean]("keep")) == 1, s"cluster $c keeper count")
    }
  }
}
