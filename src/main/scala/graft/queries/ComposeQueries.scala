package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end corpus-pipeline composition: the artifact a training-data
  * user actually ships is not any single filter but the per-document
  * KEEP/DROP VERDICT of the whole chain. q100 wires the already-verified
  * stages together with true SEQUENTIAL semantics (each stage sees only
  * the previous stage's survivors — a dropped document cannot be a dedup
  * keeper) and emits one row per document with the first stage that
  * dropped it as a reason code.
  *
  * Stage order (the standard C4/Dolma/RefinedWeb shape):
  *   benchmark    — the held-out eval split (doc_id % DecontamMod, q61's
  *                  membership) is never training data;
  *   bad_encoding — q98's replacement-char / control-char gate;
  *   low_quality  — q21's length / stopword / punctuation gate;
  *   exact_dup    — q24's md5 group keeper (min doc_id) WITHIN survivors;
  *   near_dup     — q26/q49's MinHash-LSH + verified-Jaccard connected
  *                  components WITHIN survivors; cluster keeper = min id;
  *   contaminated — q61's shingle overlap against the benchmark docs;
  *   quota        — q81's per-source hash-rank cap among what remains;
  *   kept         — everything that survived.
  *
  * Scale design — TWO corpus text scans, the minimum the semantics
  * allow (the gates need every document; the shingle stages need text
  * again only for docs that survived them):
  *  1. the flag pass: map-only gate columns + md5 content hash into a
  *     ~60-byte/doc frame, checkpointed once, consumed by every later
  *     stage and the final verdict assembly;
  *  2. the shingle pass: hashed shingle occurrences restricted to
  *     stage-3 survivors ∪ benchmark docs (unhinted semi-join),
  *     checkpointed, and shared by the LSH chain, Jaccard verification
  *     (hashed sets, the q88 trick), and decontamination — no third
  *     pass exists. The named query sources this pass from the
  *     family-shared occurrence memo (DedupQueries.taggedOccCorpus,
  *     round 13), so within a process the text is re-scanned once per
  *     (session, dir), not per invocation; the generic body keeps the
  *     direct mint.
  * All inter-stage frames are id-level (8–40 byte rows); the only
  * corpus-row-count shuffles are the exact-dedup group-by, the LSH
  * band exchange, and the survivor-id semi-joins, all uniform by
  * content hash or doc id.
  *
  * Broadcast discipline: the SURVIVOR id set grows linearly with corpus
  * document count, so its two semi-joins carry NO broadcast hint — the
  * planner broadcasts below `autoBroadcastJoinThreshold` (the sf-test
  * regime) and degrades to a shuffle semi-join on uniform doc ids past
  * it (the 100 TB regime; Spark's runtime bloom filter still prunes the
  * probe side map-side there). A forced `broadcast()` here would
  * override the threshold and OOM the driver at ~10⁹ docs instead of
  * degrading (round-11 verdict). PlanSpec pins the transition. The
  * hints that REMAIN are size-bounded by construction: candidate-pair
  * ids (LSH-band-collision-bounded), benchmark ids (corpus/DecontamMod)
  * and the distinct benchmark shingle set (benchmark-sized). The oracle recomputes
  * the whole chain independently (raw-string shingles, recursive-CTE
  * closure), so the gate catches any inter-stage schema or semantic
  * drift — the point of shipping the composition as its own query. */
object ComposeQueries {

  type Q = (SparkSession, String) => DataFrame

  def q100PipelineVerdict(s: SparkSession, dir: String): DataFrame =
    pipelineCore(s, Tables.documents(s, dir),
      occIn = Some(DedupQueries.shingleOccStrict(s, dir)))

  /** q154: q100's chain with the PER-SOURCE ADAPTIVE GATE (q149)
    * composed as its own stage — the round-12 verdict's ask: the
    * pipeline's `low_quality` rule is one global threshold, while the
    * calibrated gate drops each source's bottom [[TextQueries.GateDen]]
    * quantile by length AMONG the docs that reached it, so a
    * short-form source is cut against its own distribution, not a
    * books-domain yardstick. Stage order: after dedup/decontamination
    * (the gate must calibrate on surviving docs only — duplicate-heavy
    * sources would otherwise drag their own threshold down), before
    * quota; reason code `source_gate`. The gate costs ONE extra
    * aggregation of the already-id-level survivor frame to its
    * (source, score) value domain (q149's argument: domain-sized, not
    * corpus-sized), a KB threshold broadcast back, and no third corpus
    * scan — `score` rides the pass-1 flags frame. */
  def q154PipelineGated(s: SparkSession, dir: String): DataFrame =
    pipelineCore(s, Tables.documents(s, dir),
      occIn = Some(DedupQueries.shingleOccStrict(s, dir)), sourceGate = true)

  /** q100 body over an arbitrary documents frame (docs/SCALE.md measures it
    * on replicated corpora; `docs` is consumed by both corpus passes).
    * `occIn` optionally supplies an already-hashed corpus shingle
    * occurrence frame (the named query passes the family-shared memo);
    * absent, the pass-2 mint runs over `docs` as before. `sourceGate`
    * enables q154's per-source adaptive stage. */
  private[graft] def pipelineCore(s: SparkSession, docs: DataFrame,
      occIn: Option[DataFrame] = None, sourceGate: Boolean = false): DataFrame = {
    import s.implicits._
    // pass 1: per-doc flags (one corpus scan, tiny checkpointed frame);
    // when the gate stage is on, `score` (the q149 gate's integer
    // quality score) rides along so q154 never needs a corpus re-scan —
    // ungated callers may bind docs frames without an n_chars column
    // (fixture specs), so the column is conditional
    val score = if (sourceGate) Seq($"n_chars".cast("long").as("score")) else Nil
    val flags = docs
      .select(Seq($"doc_id", $"source",
        md5($"text").as("text_hash"),
        ($"doc_id" % DedupQueries.DecontamMod === 0).as("is_bench"),
        TextQueries.encodingOkCol.as("enc_ok"),
        TextQueries.qualityOkCol.as("qual_ok")) ++ score: _*)
      .localCheckpoint(false)
    val s2 = flags.where(!$"is_bench" && $"enc_ok" && $"qual_ok")
    // exact dedup among s2 survivors; checkpointed: two consumers (the
    // survivor filter and the drop-id marker) must not re-run the shuffle
    val s2k = s2.join(
        s2.groupBy($"text_hash").agg(min($"doc_id").as("keeper_id")),
        Seq("text_hash"))
      .select(Seq($"doc_id", $"source",
        ($"doc_id" =!= $"keeper_id").as("x_dup")) ++ score.map(_ => $"score"): _*)
      .localCheckpoint(false)
    val exactDropIds = s2k.where($"x_dup").select($"doc_id")
    val s3Ids = s2k.where(!$"x_dup").select($"doc_id")
    val benchIds = flags.where($"is_bench").select($"doc_id")
    // pass 2: hashed shingle occurrences for s3 ∪ bench docs only —
    // pruned from the FAMILY-SHARED occurrence memo when the named query
    // runs (already minted, so the prune comes after), while the direct
    // path keeps round 12's prune-BEFORE-tokenize shape: a semi-join
    // cannot push below Generate, so minting first would run the shingle
    // HOF (the per-row cost center) over the whole corpus instead of the
    // survivors (review finding r13)
    val passIds = s3Ids.unionByName(benchIds)
    val occ = occIn.map(o => survivorPrune(o, passIds))
      .getOrElse(survivorPrune(docs, passIds)
        .select($"doc_id", explode(DedupQueries.shingles($"text")).as("sh"))
        .select($"doc_id", DedupQueries.h60($"sh").as("h")))
      .localCheckpoint(false)
    val memberOcc = survivorPrune(occ, s3Ids)
    // near-dup: the q88-shape LSH chain over the shared occurrences
    val cand = DedupQueries.lshCandidates(
        DedupQueries.bandLabels(DedupQueries.minhashFromHashedOcc(memberOcc)))
      .localCheckpoint(false)
    val candIds = cand
      .select(explode(array($"doc_a", $"doc_b")).as("doc_id")).distinct()
    val candSh = memberOcc.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .groupBy($"doc_id").agg(collect_list($"h").as("shingles"))
    val pairs = DedupQueries.jaccardVerify(cand, candSh)
      .select($"doc_a", $"doc_b")
    // both drop-id frames have two consumers (the s5 anti-join and the
    // verdict marker join) — checkpointed so the CC tail / the occ
    // semi-join + distinct run once (§9 plan-branch-reuse rule)
    val nearDropIds = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b")
      .where($"id" =!= $"comp").select($"id".as("doc_id"))
      .localCheckpoint(false)
    // decontamination: benchmark shingle set vs member shingles
    val benchSh = occ.join(broadcast(benchIds), Seq("doc_id"), "left_semi")
      .select($"h").distinct()
    val contamIds = memberOcc.join(broadcast(benchSh), Seq("h"), "left_semi")
      .select($"doc_id").distinct()
      .localCheckpoint(false)
    val s5 = s2k.where(!$"x_dup")
      .join(nearDropIds, Seq("doc_id"), "left_anti")
      .join(contamIds, Seq("doc_id"), "left_anti")
    // q154's optional stage: per-source adaptive gate over the s5
    // survivors — q149's exact-rank machinery on the (source, score)
    // VALUE DOMAIN of the already-id-level frame (domain-sized window,
    // KB threshold broadcast back; no corpus scan)
    val gateDropIds = if (!sourceGate) None else Some {
      val dom = s5.groupBy($"source", $"score").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // KB; threshold + (implicit) audit consumers
      val thr = TextQueries.domainRankThreshold(dom, TextQueries.GateDen)
        .select($"source", $"thr")
      // two consumers (s6 anti-join, verdict marker) — checkpoint (§9)
      s5.join(broadcast(thr), Seq("source"))
        .where($"score" < $"thr").select($"doc_id")
        .localCheckpoint(false)
    }
    val s6 = gateDropIds.fold(s5)(gd => s5.join(gd, Seq("doc_id"), "left_anti"))
    // quota: hash-rank per source among the surviving docs
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val quotaDropIds = s6.select($"doc_id", $"source")
      .withColumn("rk", row_number().over(w))
      .where($"rk" > TextQueries.SourceQuota).select($"doc_id")
    // verdict assembly: first failing stage in pipeline order
    val marked = flags
      .join(exactDropIds.withColumn("m_x", lit(true)), Seq("doc_id"), "left")
      .join(nearDropIds.withColumn("m_n", lit(true)), Seq("doc_id"), "left")
      .join(contamIds.withColumn("m_c", lit(true)), Seq("doc_id"), "left")
      .join(quotaDropIds.withColumn("m_q", lit(true)), Seq("doc_id"), "left")
    val withGate = gateDropIds.fold(marked.withColumn("m_g", lit(null).cast("boolean")))(
      gd => marked.join(gd.withColumn("m_g", lit(true)), Seq("doc_id"), "left"))
    withGate
      .select($"doc_id",
        when($"is_bench", "benchmark")
          .when(!$"enc_ok", "bad_encoding")
          .when(!$"qual_ok", "low_quality")
          .when($"m_x", "exact_dup")
          .when($"m_n", "near_dup")
          .when($"m_c", "contaminated")
          .when($"m_g", "source_gate")
          .when($"m_q", "quota")
          .otherwise("kept").as("verdict"))
      .withColumn("keep", $"verdict" === "kept")
      .orderBy($"doc_id")
  }

  /** Semi-join restriction of a corpus frame to a SURVIVOR id set —
    * deliberately UNHINTED (see the broadcast-discipline scaladoc): the
    * survivor set is corpus-proportional, so the planner must stay free
    * to pick broadcast below `autoBroadcastJoinThreshold` and a shuffle
    * semi-join on uniform doc ids above it. Both q100 prune sites route
    * through here; PlanSpec pins the strategy at both regimes. */
  private[graft] def survivorPrune(corpus: DataFrame, ids: DataFrame): DataFrame =
    corpus.join(ids, Seq("doc_id"), "left_semi")

  /** The oracle re-derives the whole chain independently: raw-string
    * shingles (no 60-bit hashing anywhere — cross-checks the hashed
    * Spark plan), recursive-CTE closure for the cluster step, and plain
    * IN-subquery membership for the sequential restriction. Hash-chain
    * text for the restricted sig CTEs is single-sourced from
    * DedupQueries so the two oracles can never drift. q100 and q154
    * share ONE builder (`gated` inserts the per-source threshold chain —
    * q149's CTE shapes — and the `source_gate` verdict arm). */
  lazy val q100Sql: String = pipelineSql(gated = false)
  lazy val q154Sql: String = pipelineSql(gated = true)

  private def pipelineSql(gated: Boolean): String = {
    val D = DedupQueries
    val mod = D.DecontamMod
    val scoreCol = if (gated) ",\n    CAST(n_chars AS BIGINT) AS score" else ""
    // gate chain: exact per-source rank threshold over the s5 survivors'
    // (source, score) domain — q149's cumulative-window recipe verbatim
    val gateCtes = if (!gated) "" else
      s""",
         |s5s AS (SELECT s5.doc_id, s5.source, f.score
         |        FROM s5 JOIN f ON f.doc_id = s5.doc_id),
         |gdom AS (SELECT source, score, COUNT(*) AS c FROM s5s GROUP BY 1, 2),
         |gtot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM gdom GROUP BY source),
         |gcum AS (SELECT source, score,
         |           SUM(c) OVER (PARTITION BY source ORDER BY score) AS cum
         |         FROM gdom),
         |gthr AS (SELECT gcum.source, MIN(score) AS thr
         |         FROM gcum JOIN gtot ON gcum.source = gtot.source
         |         WHERE cum * ${TextQueries.GateDen} >= n
         |         GROUP BY gcum.source),
         |gdrop AS (SELECT s5s.doc_id FROM s5s JOIN gthr ON s5s.source = gthr.source
         |          WHERE s5s.score < gthr.thr),
         |s6 AS (SELECT doc_id, source FROM s5s
         |       WHERE doc_id NOT IN (SELECT doc_id FROM gdrop))""".stripMargin
    val quotaSrc = if (gated) "s6" else "s5"
    val gateArm = if (!gated) "" else
      s"""
         |         WHEN f.doc_id IN (SELECT doc_id FROM gdrop) THEN 'source_gate'""".stripMargin
    s"""WITH RECURSIVE f AS (
       |  SELECT doc_id, source, md5(text) AS text_hash$scoreCol,
       |    (doc_id % $mod = 0) AS is_bench,
       |    ${TextQueries.encodingOkSql} AS enc_ok,
       |    ${TextQueries.qualityOkSql} AS qual_ok
       |  FROM documents),
       |s2 AS (SELECT doc_id, source, text_hash FROM f
       |       WHERE NOT is_bench AND enc_ok AND qual_ok),
       |xk AS (SELECT text_hash, MIN(doc_id) AS keeper_id FROM s2 GROUP BY text_hash),
       |xdrop AS (SELECT s2.doc_id FROM s2 JOIN xk USING (text_hash)
       |          WHERE doc_id <> keeper_id),
       |s3 AS (SELECT doc_id, source FROM s2
       |       WHERE doc_id NOT IN (SELECT doc_id FROM xdrop)),
       |sh AS (SELECT doc_id, ${D.shinglesSqlExpr} AS shingles FROM documents
       |       WHERE doc_id IN (SELECT doc_id FROM s3) OR doc_id % $mod = 0),
       |occ AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |mocc AS (SELECT doc_id, ${D.sqlOccHashExpr} AS h FROM occ
       |         WHERE doc_id IN (SELECT doc_id FROM s3)),
       |hashes AS (SELECT h, ${D.sqlSigHashExprs} FROM (SELECT DISTINCT h FROM mocc)),
       |sig AS (SELECT mocc.doc_id, ${D.sqlSigMinExprs}
       |        FROM mocc JOIN hashes USING (h) GROUP BY mocc.doc_id),
       |bl AS (${D.sqlBandSelects("sig")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bl a JOIN bl b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pr AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |        CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE)
       |        >= ${D.JaccardThreshold}),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pr
       |  UNION ALL SELECT doc_b, doc_a FROM pr),
       |walk(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.u),
       |ndrop AS (SELECT u AS doc_id FROM walk GROUP BY u HAVING u <> MIN(r)),
       |bsh AS (SELECT DISTINCT s FROM occ WHERE doc_id % $mod = 0),
       |contam AS (SELECT DISTINCT o.doc_id FROM occ o JOIN bsh USING (s)
       |           WHERE o.doc_id IN (SELECT doc_id FROM s3)),
       |s5 AS (SELECT doc_id, source FROM s3
       |       WHERE doc_id NOT IN (SELECT doc_id FROM ndrop)
       |         AND doc_id NOT IN (SELECT doc_id FROM contam))$gateCtes,
       |qr AS (SELECT doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |       FROM $quotaSrc),
       |qdrop AS (SELECT doc_id FROM qr WHERE rk > ${TextQueries.SourceQuota})
       |SELECT doc_id, verdict, (verdict = 'kept') AS keep FROM (
       |  SELECT f.doc_id,
       |    CASE WHEN is_bench THEN 'benchmark'
       |         WHEN NOT enc_ok THEN 'bad_encoding'
       |         WHEN NOT qual_ok THEN 'low_quality'
       |         WHEN f.doc_id IN (SELECT doc_id FROM xdrop) THEN 'exact_dup'
       |         WHEN f.doc_id IN (SELECT doc_id FROM ndrop) THEN 'near_dup'
       |         WHEN f.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'$gateArm
       |         WHEN f.doc_id IN (SELECT doc_id FROM qdrop) THEN 'quota'
       |         ELSE 'kept' END AS verdict
       |  FROM f)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q126: hybrid retrieval — reciprocal-rank fusion ----

  /** RRF smoothing constant (k=60, the value from Cormack/Clarke/
    * Büttcher's original reciprocal-rank-fusion evaluation — the
    * near-universal default in hybrid-retrieval stacks). */
  val RrfK = 60

  /** Fused result size (each input leg contributes its top
    * [[TextQueries.Bm25TopK]]). */
  val HybridTopK = 10

  /** q126: hybrid retrieval — fuse a LEXICAL ranked list (q64's BM25
    * top-k for the fixed term query) with a DENSE ranked list (exact
    * cosine top-k against a fixed query vector, the q30 shape) by
    * reciprocal-rank fusion: score(d) = Σ_legs 1/(k + rank_leg(d)),
    * absent legs contributing 0. The two legs are INPUT FIXTURES here —
    * the operator under test is the fusion, the join shape every
    * RAG/retrieval stack runs between its inverted-index and its ANN
    * index.
    *
    * Scale design: each leg ends in orderBy+limit =
    * TakeOrderedAndProject (per-partition heaps, no global sort, no
    * corpus-sized window); the rank row_number and the full-outer fusion
    * join then run on two ≤k-row frames — driver-trivial at any corpus
    * size. Rank arithmetic is integer, so 1/(k+rank) is a single IEEE
    * division both engines evaluate identically; the fixed
    * sparse-then-dense addition order plus round(…, 6) keeps the hash
    * oracle exact. */
  def q126HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val S = SimilarityQueries
    val k = TextQueries.Bm25TopK
    // lexical leg: q64's top-k is already TakeOrderedAndProject'd; the
    // rank window runs on the k-row result, not the corpus
    val wS = Window.orderBy($"score_r".desc, $"doc_id")
    val sparse = TextQueries.q64Bm25(s, dir)
      .select($"doc_id", row_number().over(wS).as("r_sparse"))
    // dense leg: broadcast 1-row query vector, map-side cosine, top-k
    val emb = Tables.embeddings(s, dir)
      .withColumn("en2", S.norm2($"embedding"))
    val qv = emb.where($"vec_id" === 0)
      .select($"embedding".as("qe"), $"en2".as("qn2"))
    val sim6 = round(S.cosinePre($"qe", $"embedding", $"qn2", $"en2"), 6)
    val wD = Window.orderBy($"sim".desc, $"doc_id")
    val dense = emb.crossJoin(broadcast(qv))
      .where($"vec_id" =!= 0)
      .select($"vec_id".as("doc_id"), sim6.as("sim"))
      .orderBy($"sim".desc, $"doc_id").limit(k)
      .select($"doc_id", row_number().over(wD).as("r_dense"))
    // fusion: two k-row frames, fixed sparse+dense addition order
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"r_sparse", $"r_dense",
        round(
          coalesce(lit(1.0) / (lit(RrfK) + $"r_sparse"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + $"r_dense"), lit(0.0)),
          6).as("rrf_r"))
      .orderBy($"rrf_r".desc, $"doc_id")
      .limit(HybridTopK)
  }

  /** Oracle: re-derives both legs (q64's SQL verbatim as a CTE, dense
    * cosine via the shared SQL mirrors) and fuses with the same fixed
    * addition order and rounding. */
  lazy val q126Sql: String = {
    val cos = SimilarityQueries.sqlCosine("q.embedding", "e.embedding")
    val k = TextQueries.Bm25TopK
    s"""WITH bm AS (${TextQueries.q64Sql}),
       |sparse AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id) AS r_sparse
       |  FROM bm),
       |ds AS (
       |  SELECT e.vec_id AS doc_id, round($cos, 6) AS sim
       |  FROM embeddings e
       |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id <> 0),
       |dense AS (
       |  SELECT doc_id, r_dense FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r_dense
       |    FROM ds)
       |  WHERE r_dense <= $k),
       |fused AS (
       |  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.r_sparse, d.r_dense,
       |    ROUND(COALESCE(1.0e0 / ($RrfK + s.r_sparse), 0.0e0) +
       |          COALESCE(1.0e0 / ($RrfK + d.r_dense), 0.0e0), 6) AS rrf_r
       |  FROM sparse s FULL JOIN dense d ON s.doc_id = d.doc_id)
       |SELECT doc_id, r_sparse, r_dense, rrf_r FROM fused
       |ORDER BY rrf_r DESC, doc_id LIMIT $HybridTopK""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q100_pipeline_verdict" -> (q100PipelineVerdict _),
    "q154_pipeline_gated"   -> (q154PipelineGated _),
    "q126_hybrid_rrf"       -> (q126HybridRrf _),
  )

  val oracleSql: Map[String, String] = Map(
    "q100_pipeline_verdict" -> q100Sql,
    "q154_pipeline_gated"   -> q154Sql,
    "q126_hybrid_rrf"       -> q126Sql,
  )
}
