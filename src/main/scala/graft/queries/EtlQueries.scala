package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.KvSink
import graft.operators.Materialize.sortSharedQuery
import graft.operators.Multimodal

/** Operators whose raw output is not SQL-reproducible (PRNG samples,
  * compressed payloads, codec internals), surfaced through the
  * correctness gate as VERDICT queries: the output carries only
  * engine-portable columns plus Spark-computed booleans asserting the
  * operator's provable guarantee, and the oracle recomputes the portable
  * side and asserts every verdict TRUE (the q18 pattern). Value-level
  * codec semantics stay pinned by ScalaTests. */
object EtlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q40 — X1/F2: seeded Bernoulli sample (the profile pipeline's
    * RAND() < rate at the scan, taar_profile_bigtable.py:90).
    *
    * Oracle-checked since round 6 (the q18/q43 verdict pattern): the
    * sampled row-set itself is engine-specific (PRNGs differ, and
    * Spark's per-partition gap sampler is partitioning-dependent), so
    * the output is the sample's STATISTICAL verdict instead — n_total
    * and the 6σ binomial CI bounds for rate 0.1 (both recomputable by
    * DuckDB from the same table; the bound arithmetic is IEEE-identical
    * across engines — correctly-rounded sqrt and floor/ceil of doubles),
    * plus Spark-computed booleans: the sample size lands inside the CI
    * (P(violation) ≈ 2·10⁻⁹ for a correct Bernoulli sampler) and every
    * sampled row is a real table row (anti-join audit). The oracle
    * recomputes the counts/bounds and asserts the verdicts TRUE. */
  def q40BernoulliSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val samp = ev.sample(withReplacement = false, 0.1, seed = 42L)
      .select($"event_id")
    val audited = ev.agg(count(lit(1)).as("n_total"))
      .crossJoin(samp.agg(count(lit(1)).as("n_sampled")))
      .crossJoin(samp.join(ev.select($"event_id"), Seq("event_id"), "left_anti")
        .agg(count(lit(1)).as("n_stray")))
      .select($"n_total", $"n_sampled", $"n_stray",
        floor(lit(0.1) * $"n_total" - lit(6.0) * sqrt(lit(0.09) * $"n_total"))
          .cast("long").as("ci_lo"),
        ceil(lit(0.1) * $"n_total" + lit(6.0) * sqrt(lit(0.09) * $"n_total"))
          .cast("long").as("ci_hi"))
    audited.select($"n_total", $"ci_lo", $"ci_hi",
      ($"n_sampled" >= $"ci_lo" && $"n_sampled" <= $"ci_hi").as("ci_ok"),
      ($"n_stray" === 0L).as("subset_ok"))
  }

  val q40Sql: String =
    """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events)
      |SELECT n_total,
      |       CAST(floor(0.1e0 * n_total - 6e0 * sqrt(0.09e0 * n_total)) AS BIGINT) AS ci_lo,
      |       CAST(ceil(0.1e0 * n_total + 6e0 * sqrt(0.09e0 * n_total)) AS BIGINT) AS ci_hi,
      |       TRUE AS ci_ok, TRUE AS subset_ok
      |FROM t""".stripMargin

  /** q41 — K4/P5/P6: the KV-store projection (sha256 key + zlib(JSON)
    * payload) over the customer table, verified as a FULL ROUNDTRIP:
    * encode (sha2 key + to_json + zlib) then decode (inflate + from_json)
    * back to typed columns. DuckDB can't run zlib, but it CAN check the
    * composition — sha256 parity on the key plus every column value
    * surviving compress→decompress→parse — which pins the payload
    * byte-stream as a faithful JSON encoding without comparing
    * engine-specific compressed bytes or JSON text formatting (double
    * roundtrip is exact: Jackson emits round-trip-precise literals). */
  def q41KvEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val cust = Tables.customer(s, dir)
    val kv = KvSink.toKv(s, cust, "c_custkey")
    // the payload stores the HASHED id (pseudonymization invariant)
    val schema = StructType(cust.schema.fields.map {
      case f if f.name == "c_custkey" => StructField("c_custkey", StringType)
      case f => f
    })
    KvSink.decodePayload(s, kv)
      .select($"key", from_json($"json", schema).as("r"))
      .select(col("key") +: schema.fieldNames.toSeq.map(n => col(s"r.$n").as(n)): _*)
      .orderBy($"key")
  }

  val q41Sql: String =
    """SELECT sha256(CAST(c_custkey AS VARCHAR)) AS key,
      |       sha256(CAST(c_custkey AS VARCHAR)) AS c_custkey,
      |       c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY key""".stripMargin

  /** q42 — multimodal: binary payload + metadata + partition-wise
    * type-dispatched decode (REAL JDK codecs for image/audio; the
    * synthetic corpus is text so these rows take the text branch —
    * MultimodalSpec exercises the image/audio branches on generated
    * PNG/WAV bytes).
    *
    * Oracle-checked since round 6 (the q18/q43 verdict pattern): the
    * output carries only DuckDB-recomputable columns — payload byte
    * length, the hex magic-number prefix of the payload, a type tag
    * derived from that magic, declared char length — plus verdict
    * booleans computed Spark-side from the REAL decode (kind dispatch
    * agreed with metadata; decode did not degrade to corrupt; the
    * decoder's n_bytes equals the payload's true byte length). The
    * oracle recomputes the byte/magic columns from the same table and
    * asserts every verdict TRUE. Codec-only fields (image dims, sample
    * rate) stay spec-pinned in MultimodalSpec, which drives them on
    * real PNG/WAV bytes. */
  def q42MultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val feats = Multimodal.mediaFeatures(s, docs)
    val media = Multimodal.toMediaTable(docs)
      .select($"media_id", $"payload", $"meta.declared_len".as("n_chars"))
    media.join(feats, Seq("media_id"))
      .select($"media_id",
        length($"payload").cast("long").as("payload_bytes"),
        substring(hex($"payload"), 1, 8).as("magic_hex"),
        when(substring(hex($"payload"), 1, 8) === "89504E47", "image/png")
          .when(substring(hex($"payload"), 1, 8) === "52494646", "riff")
          .otherwise("untyped").as("magic_kind"),
        $"n_chars",
        ($"kind" === "text").as("kind_ok"),
        ($"format" =!= "corrupt").as("decode_ok"),
        ($"n_bytes" === length($"payload").cast("long")).as("len_ok"))
      .orderBy($"media_id")
  }

  val q42Sql: String =
    """SELECT doc_id AS media_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
      |       substring(hex(encode(text)), 1, 8) AS magic_hex,
      |       CASE WHEN substring(hex(encode(text)), 1, 8) = '89504E47' THEN 'image/png'
      |            WHEN substring(hex(encode(text)), 1, 8) = '52494646' THEN 'riff'
      |            ELSE 'untyped' END AS magic_kind,
      |       n_chars,
      |       TRUE AS kind_ok, TRUE AS decode_ok, TRUE AS len_ok
      |FROM documents ORDER BY media_id""".stripMargin

  /** q43 — heavy-hitter tokens via the mergeable Misra–Gries sketch
    * (typed Aggregator): constant memory per group, partial-agg
    * friendly, and — since round 6 — carrying the merge-proof bound of
    * Agarwal et al. ("Mergeable Summaries", PODS 2012): under ANY merge
    * tree, est ≤ true ≤ est + dec with dec ≤ N/(capacity+1), so every
    * token with true count > N/capacity (capacity = 64 here, and
    * N/64 > N/65) must be in the sketch. The oracle checks that
    * guarantee against its exact dual: Spark computes both the sketch
    * and the exact counts and emits the per-token verdict; the oracle
    * computes the exact side and asserts the verdict is uniformly true —
    * a hash match is a checked bound, not a rows>0 smoke test.
    * (Production runs the sketch WITHOUT the exact dual — that is its
    * point; this is the verification query.) */
  def q43HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
    val sketch = words.as[String]
      .select(new graft.functions.SpaceSaving(64).toColumn).toDF("hh")
      .select(explode($"hh").as("e"))
      .select($"e._1".as("token"), $"e._2".as("est"), $"e._3".as("err"))
    // checkpointed vocab-sized counts: `total` and the probe filter both
    // read it, so the audit costs ONE corpus pass (plan-branch reuse does
    // not dedupe the explode pipeline — measured 3 scans without this)
    val exact = words.groupBy($"w").agg(count(lit(1)).as("exact_cnt"))
      .localCheckpoint()
    val total = exact.agg(sum($"exact_cnt").as("total"))
    exact.crossJoin(broadcast(total))
      .where($"exact_cnt" * 64 > $"total")
      .join(broadcast(sketch), $"w" === $"token", "left")
      .select($"w".as("token"), $"exact_cnt",
        $"token".isNotNull.as("in_sketch"),
        ($"token".isNotNull && $"est" <= $"exact_cnt" &&
          ($"est" + $"err") >= $"exact_cnt").as("bound_ok"))
      .orderBy($"w")
  }

  val q43Sql: String =
    """WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT w, COUNT(*) AS exact_cnt FROM words GROUP BY w),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM words)
      |SELECT w AS token, exact_cnt, TRUE AS in_sketch, TRUE AS bound_ok
      |FROM wc, tot WHERE exact_cnt * 64 > total
      |ORDER BY token""".stripMargin

  // ---- q87: Count-Min point-frequency sketch ----

  val CmsDepth = 4
  val CmsWidth = 256

  /** q87: Count-Min frequency estimates for the heavy-hitter probe set —
    * the point-frequency member of the sketch family (q18 HLL
    * cardinality, q43 Misra–Gries heavy hitters). The sketch is built by
    * the [[graft.functions.CountMin]] typed Aggregator whose merge is
    * LOSSLESS (elementwise counter add — bit-identical under any
    * partitioning, CountMinSpec), and its md5-chunk hashing is the
    * repo's portable convention, so unlike q43 the estimates themselves
    * are exactly recomputable by DuckDB: this is a VALUE-level oracle
    * row for a sketch, not a verdict-level one. `within_3eps` uses pure
    * integer arithmetic ((est−true)·width ≤ 3·n) — no float anywhere.
    *
    * Scale: the corpus reduces to one 8·(depth·width+1)-byte sketch via
    * partial aggregation (items never shuffle); the exact side exists
    * only to audit the probe set and is the same one shuffle q43 pays. */
  def q87CmsFrequency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
    // the case-class output flattens to top-level (counts, n) columns
    val sketch = words.as[String]
      .select(new graft.functions.CountMin(CmsDepth, CmsWidth).toColumn)
      .toDF("counts", "n")
    // checkpointed vocab-sized counts: `total` and the probe filter both
    // read it, so the audit costs ONE corpus pass (plan-branch reuse does
    // not dedupe the explode pipeline — measured 3 scans without this)
    val exact = words.groupBy($"w").agg(count(lit(1)).as("exact_cnt"))
      .localCheckpoint()
    val total = exact.agg(sum($"exact_cnt").as("total"))
    val est = (0 until CmsDepth).map { d =>
      element_at($"counts",
        (lit(d * CmsWidth) +
          conv(substring(md5($"w".cast("binary")), 8 * d + 1, 8), 16, 10)
            .cast("long") % CmsWidth).cast("int") + 1)
    }.reduce(least(_, _))
    exact.crossJoin(broadcast(total))
      .where($"exact_cnt" * 64 > $"total")
      .crossJoin(broadcast(sketch))
      .select($"w".as("token"), $"exact_cnt", est.as("est"),
        (est - $"exact_cnt").as("overcount"), $"n",
        ((est - $"exact_cnt") * CmsWidth <= $"n" * 3).as("within_3eps"))
      .orderBy($"token")
  }

  /** DuckDB rendering of the repo's portable md5-chunk hash: hex digits
    * [8d+1, 8d+8] of md5(expr) as an unsigned BIGINT — the exact dual of
    * Spark's `conv(substring(md5(x), 8d+1, 8), 16, 10)` (DuckDB has no
    * base-16 `conv`, so the digits are summed positionally). Shared by
    * the q87 Count-Min and q92 Bloom oracles. */
  private def sqlMd5Chunk(expr: String, d: Int): String =
    (1 to 8).map { k =>
      val w = math.pow(16, 8 - k).toLong
      s"(CAST(strpos('0123456789abcdef', substr(md5($expr), ${8 * d + k}, 1)) AS BIGINT) - 1) * ${w}"
    }.mkString("(", " + ", ")")

  val q87Sql: String = {
    def chunk(expr: String, d: Int): String = sqlMd5Chunk(expr, d)
    val bds = (0 until CmsDepth).map { d =>
      s"b$d AS (SELECT ${chunk("w", d)} % $CmsWidth AS b, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY 1)"
    }.mkString(",\n")
    val joins = (0 until CmsDepth).map { d =>
      s"JOIN b$d c$d ON c$d.b = ${chunk("p.w", d)} % $CmsWidth"
    }.mkString("\n")
    val est = s"LEAST(${(0 until CmsDepth).map(d => s"c$d.c").mkString(", ")})"
    s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM words),
       |probes AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM words GROUP BY w),
       |$bds
       |SELECT p.w AS token, p.exact_cnt, $est AS est,
       |  $est - p.exact_cnt AS overcount, tot.total AS n,
       |  ($est - p.exact_cnt) * $CmsWidth <= tot.total * 3 AS within_3eps
       |FROM probes p CROSS JOIN tot
       |$joins
       |WHERE p.exact_cnt * 64 > tot.total
       |ORDER BY token""".stripMargin
  }

  // ---- q92: Bloom-filter pre-filtered join (runtime-filter semantics) ----

  /** Bloom filter size in bits (m). At the reference workload's dim
    * selectivity (~150 keys at sf0.01) and k=3 hashes, fp ≈ 2·10⁻⁴. */
  val BloomBits = 8192L

  /** Bits per bitset word. 32, not 64: DuckDB's `<<` overflow-checks
    * BIGINT, so masks stay within 2³¹ and both engines agree bit-for-bit
    * without signedness games. */
  val BloomWordBits = 32L

  /** Number of Bloom hash functions (k). */
  val BloomHashes = 3

  /** Bit position d of `key` in the Bloom bitset: md5 chunk d (hex digits
    * [8d+1, 8d+8] of the digest — the q87 convention) mod [[BloomBits]]. */
  private def bloomPos(key: Column, d: Int): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 8 * d + 1, 8), 16, 10)
      .cast("long") % BloomBits

  /** q92: Bloom-filter semi-join — build a Bloom filter over the selective
    * dimension's keys (customers with c_acctbal > 9000), probe every fact
    * row (orders) against it BEFORE the real join, and audit the sketch
    * against the exact semi-join: per order priority, the probe count,
    * Bloom-pass count, true-match count, false-positive count, and the
    * no-false-negative verdict (a Bloom filter may over-admit, never
    * under-admit). This is the explicit form of the runtime bloom filter
    * Spark injects for DPP-style join pruning: at 100 TB the fact scan
    * discards non-joining rows at ~m bits of broadcast state instead of
    * shuffling the full fact table into the join.
    *
    * The filter is EXACTLY recomputable by DuckDB (md5-chunk positions,
    * 32-bit bitset words, integer ops only), so unlike most sketches this
    * is a VALUE-level oracle: the per-group false-positive counts
    * themselves hash-match, not just a bound verdict.
    *
    * Scale: the bitset build aggregates k·|dim| positions into
    * [[BloomBits]]/[[BloomWordBits]] = 256 words (KB-scale broadcast —
    * the whole point); probing is three broadcast joins on the word
    * index + a bit test, map-only over the fact side; the exact dual is
    * one broadcast semi-join flag. The dimension is scanned twice (bitset
    * build + exact audit) — it is the broadcast-small side by
    * construction, and production uses only the bitset branch. */
  def q92BloomJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bloomAuditCore(
      Tables.customer(s, dir)
        .where($"c_acctbal" > 9000).select($"c_custkey".as("k")),
      Tables.orders(s, dir).select($"o_custkey", $"o_orderpriority"))
  }

  /** q92 body over arbitrary dim(k) / fact(o_custkey, o_orderpriority)
    * frames — Round7QueriesSpec probes a fact frame RESTRICTED to true
    * matches, where exact membership demands n_pass == n_probed ==
    * n_true and zero false positives. */
  private[graft] def bloomAuditCore(dim: DataFrame, fact: DataFrame): DataFrame = {
    val s = dim.sparkSession
    import s.implicits._
    val words = dim
      .select(explode(array((0 until BloomHashes).map(d => bloomPos($"k", d)): _*)).as("pos"))
      .select(expr(s"pos div $BloomWordBits").as("widx"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))").as("mask"))
      .groupBy($"widx").agg(expr("bit_or(mask)").as("word"))
      // ≤ BloomBits/BloomWordBits rows, consumed by k probe joins:
      // checkpointed so the bitset (and its dim scan) builds ONCE —
      // plan-branch reuse does not dedupe re-analyzed branches (§9 note)
      .localCheckpoint(false)
    val probe = (0 until BloomHashes).foldLeft(fact) { (df, d) =>
      df.withColumn(s"pos$d", bloomPos($"o_custkey", d))
        .join(broadcast(words.select($"widx".as(s"widx$d"), $"word".as(s"word$d"))),
          expr(s"pos$d div $BloomWordBits") === col(s"widx$d"), "left")
        .withColumn(s"hit$d",
          coalesce(col(s"word$d"), lit(0L)).bitwiseAND(
            expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos$d % $BloomWordBits AS INT))")) =!= 0L)
    }
    val pass = (0 until BloomHashes).map(d => col(s"hit$d")).reduce(_ && _)
    probe.join(broadcast(dim.distinct()), $"o_custkey" === $"k", "left")
      .select($"o_orderpriority", pass.as("pass"), $"k".isNotNull.as("is_true"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_probed"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
        sum(when($"is_true", 1L).otherwise(0L)).as("n_true"),
        sum(when($"pass" && !$"is_true", 1L).otherwise(0L)).as("n_fp"),
        (sum(when($"is_true" && !$"pass", 1L).otherwise(0L)) === 0L).as("no_fn_ok"))
      .orderBy($"o_orderpriority")
  }

  val q92Sql: String = {
    def posd(expr: String, d: Int): String = s"${sqlMd5Chunk(expr, d)} % $BloomBits"
    val dimPos = (0 until BloomHashes)
      .map(d => posd("CAST(k AS VARCHAR)", d)).mkString("[", ", ", "]")
    val probePos = (0 until BloomHashes)
      .map(d => s"${posd("CAST(o_custkey AS VARCHAR)", d)} AS p$d").mkString(",\n         ")
    val wordJoins = (0 until BloomHashes)
      .map(d => s"LEFT JOIN words w$d ON w$d.widx = pr.p$d // $BloomWordBits").mkString("\n")
    val hits = (0 until BloomHashes).map { d =>
      s"(COALESCE(w$d.word, 0) & (CAST(1 AS BIGINT) << CAST(pr.p$d % $BloomWordBits AS INTEGER))) <> 0"
    }.mkString(" AND ")
    s"""WITH dim AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000),
       |pos AS (SELECT unnest($dimPos) AS pos FROM dim),
       |words AS (SELECT pos // $BloomWordBits AS widx,
       |            bit_or(CAST(1 AS BIGINT) << CAST(pos % $BloomWordBits AS INTEGER)) AS word
       |          FROM pos GROUP BY 1),
       |probe AS (SELECT o_custkey, o_orderpriority,
       |         $probePos
       |       FROM orders),
       |hit AS (SELECT pr.o_orderpriority, ($hits) AS pass,
       |          EXISTS (SELECT 1 FROM dim d WHERE d.k = pr.o_custkey) AS is_true
       |        FROM probe pr
       |$wordJoins)
       |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_probed,
       |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |  CAST(SUM(CASE WHEN pass AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       |  SUM(CASE WHEN is_true AND NOT pass THEN 1 ELSE 0 END) = 0 AS no_fn_ok
       |FROM hit GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  }

  // ---- q93: approximate-quantile sketch with rank-error verdict ----

  /** percentile_approx accuracy parameter: guaranteed rank error ≤
    * n/[[QuantAcc]] (Greenwald–Khanna summaries). */
  val QuantAcc = 100

  /** q93: the quantile member of the sketch family (q18 HLL cardinality,
    * q43 heavy hitters, q87 point frequency, q92 membership) — per-group
    * approximate p50/p95 over l_extendedprice, audited two ways:
    *
    *  1. VALUE level: the exact discrete quantiles (the element at
    *     1-based rank ceil(q·n), computed by integer arithmetic
    *     (n·q100+99) div 100 — no float rank anywhere) are emitted and
    *     hash-checked against DuckDB computing the same window form.
    *  2. VERDICT level: the sketch's rank guarantee — counting values
    *     ≤/< the approx quantile must land within n/[[QuantAcc]] of the
    *     target rank (±1 discretization slack, scaled integer compare) —
    *     is evaluated Spark-side and asserted TRUE by the oracle.
    *
    * The approx values themselves never appear in the output (summary
    * internals are engine-specific); what is checked is the guarantee.
    *
    * Scale: production is the one-pass partial-aggregated
    * percentile_approx. The audit adds the exact-rank window (one
    * group-keyed exchange+sort) and a count-vs-approx pass (broadcast of
    * |groups| rows) — the price of verification, as in q43/q87. */
  def q93QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantileCore(s, Tables.lineitem(s, dir)
      .select($"l_returnflag".as("flag"), $"l_extendedprice".as("x")))
  }

  /** q93 body over an arbitrary (flag, x) frame (docs/SCALE.md measures it
    * on replicated corpora; the named query binds the real table). */
  private[graft] def quantileCore(s: SparkSession, li: DataFrame): DataFrame = {
    import s.implicits._
    // approx summaries: |groups| rows, checkpointed so the join-back
    // audit does not re-derive the aggregation branch (§9 note)
    val ap = li.groupBy($"flag")
      .agg(percentile_approx($"x", array(lit(0.5), lit(0.95)), lit(QuantAcc)).as("qs"))
      .localCheckpoint(false)
    val audit = li.join(broadcast(ap), Seq("flag"))
      .groupBy($"flag")
      .agg(count(lit(1)).as("n"),
        sum(when($"x" <= element_at($"qs", 1), 1L).otherwise(0L)).as("le50"),
        sum(when($"x" < element_at($"qs", 1), 1L).otherwise(0L)).as("lt50"),
        sum(when($"x" <= element_at($"qs", 2), 1L).otherwise(0L)).as("le95"),
        sum(when($"x" < element_at($"qs", 2), 1L).otherwise(0L)).as("lt95"))
    val exact = li
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"flag").orderBy($"x")).cast("long"))
      .withColumn("nn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"flag")))
      .where($"rn" === expr("(nn * 50 + 99) div 100") ||
        $"rn" === expr("(nn * 95 + 99) div 100"))
      .groupBy($"flag")
      .agg(max(when($"rn" === expr("(nn * 50 + 99) div 100"), $"x")).as("p50_exact"),
        max(when($"rn" === expr("(nn * 95 + 99) div 100"), $"x")).as("p95_exact"))
    audit.join(exact, Seq("flag"))
      .select($"flag", $"n", $"p50_exact", $"p95_exact",
        ($"le50" * QuantAcc >= $"n" * 50 - $"n" - QuantAcc &&
          $"lt50" * QuantAcc <= $"n" * 50 + $"n" + QuantAcc).as("p50_ok"),
        ($"le95" * QuantAcc >= $"n" * 95 - $"n" - QuantAcc &&
          $"lt95" * QuantAcc <= $"n" * 95 + $"n" + QuantAcc).as("p95_ok"))
      .orderBy($"flag")
  }

  val q93Sql: String =
    """WITH s AS (SELECT l_returnflag AS flag, l_extendedprice AS x,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rn,
      |  CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS nn
      |  FROM lineitem)
      |SELECT flag, MAX(nn) AS n,
      |  MAX(CASE WHEN rn = (nn * 50 + 99) // 100 THEN x END) AS p50_exact,
      |  MAX(CASE WHEN rn = (nn * 95 + 99) // 100 THEN x END) AS p95_exact,
      |  TRUE AS p50_ok, TRUE AS p95_ok
      |FROM s GROUP BY flag ORDER BY flag""".stripMargin

  // ---- q96: HLL distinct-content rollup (sketch merge up the lattice) ----

  /** q96: approximate DISTINCT-CONTENT counts per (source, lang) with
    * ROLLUP subtotals — "how much unique material does each source
    * contribute, net of exact duplicates", the reporting view over the
    * q24 dedup signal. The point is sketch MERGEABILITY meeting
    * multi-level aggregation: Spark computes every grouping set in ONE
    * Expand + hash-agg pass, which is only correct because HLL registers
    * merge associatively up the rollup lattice — the same property the
    * q43/q87 sketches pin for partition merges, exercised here across
    * grouping sets.
    *
    * Oracle shape is q18's: the estimate is engine-specific, so each
    * rollup row carries its exact dual and a bound verdict; the oracle
    * recomputes the exact side (DuckDB ROLLUP) and asserts the verdict
    * uniformly true. Production drops the exact dual — that is the
    * sketch's point. The bound is |hll−exact| ≤ max(3·rsd·exact, 3):
    * unlike q18's large groups, rollup leaves here hold ~5 documents,
    * where the multiplicative 3σ form is vacuous (< 1) and a single
    * register collision legitimately yields 4-for-5 (measured at
    * sf0.001/0.01) — below the linear-counting regime the right slack
    * is a small absolute constant, not a fraction.
    *
    * Scale: one corpus pass; the Expand triples rows BEFORE the shuffle
    * but partial aggregation collapses them to (groups × register-array)
    * state map-side, so the exchange carries sketches, not rows. The
    * exact dual adds the one distinct-expand shuffle every exact
    * countDistinct costs. */
  /** HLL relative standard deviation for q96 (Spark's default). */
  val Q96Rsd = 0.05

  /** Absolute slack for the q96 bound below the linear-counting regime
    * (register collisions on ~5-element groups: a 5-doc leaf estimates
    * 4, 20% relative — the worst case measured at sf0.001–0.1). */
  val Q96AbsSlack = 3.0

  def q96RollupDistinct(s: SparkSession, dir: String): DataFrame =
    rollupDistinctCore(s, Tables.documents(s, dir))

  /** q96 body over an arbitrary documents frame (docs/SCALE.md measures it
    * on replicated corpora). */
  private[graft] def rollupDistinctCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val rsd = Q96Rsd
    // grouping() flags disambiguate subtotal rows from leaves: a real
    // NULL (or literal 'ALL') source/lang value can no longer collide
    // with the coalesced sentinel — (source, lang, src_rollup,
    // lang_rollup) is a unique key on any data (round-7 ADVICE)
    docs
      .select($"source", $"lang", md5($"text").as("content"))
      .rollup($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        approx_count_distinct($"content", rsd).as("approx_distinct"),
        countDistinct($"content").as("exact_distinct"),
        grouping($"source").cast("long").as("src_rollup"),
        grouping($"lang").cast("long").as("lang_rollup"))
      .select(
        coalesce($"source", lit("ALL")).as("source"),
        coalesce($"lang", lit("ALL")).as("lang"),
        $"src_rollup", $"lang_rollup",
        $"n_docs", $"exact_distinct",
        (abs($"approx_distinct" - $"exact_distinct").cast("double")
          <= greatest(lit(3 * rsd) * $"exact_distinct".cast("double"),
            lit(Q96AbsSlack))).as("within_bound"))
      .orderBy($"source", $"lang", $"src_rollup", $"lang_rollup")
  }

  val q96Sql: String =
    """SELECT COALESCE(source, 'ALL') AS source,
      |  COALESCE(lang, 'ALL') AS lang,
      |  CAST(GROUPING(source) AS BIGINT) AS src_rollup,
      |  CAST(GROUPING(lang) AS BIGINT) AS lang_rollup,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_distinct,
      |  TRUE AS within_bound
      |FROM documents
      |GROUP BY ROLLUP(source, lang)
      |ORDER BY source, lang, src_rollup, lang_rollup""".stripMargin

  // ---- q101: weighted reservoir sample per stratum (A-ES) ----

  /** Reservoir size per stratum. */
  val WrsK = 5

  /** q101 — weighted reservoir sampling per language stratum via the
    * mergeable [[graft.functions.WeightedReservoir]] typed Aggregator
    * (A-ES in its integer-ticket determinization; scheme and merge proof
    * in its scaladoc). The sampling family's missing member: q40 is
    * unweighted Bernoulli (no size bound), q81 caps counts uniformly,
    * q85 rebalances strata — this draws EXACTLY k per stratum with
    * per-item weights (here 1 + doc_id mod 8, a deterministic stand-in
    * for a quality/duplication weight tier).
    *
    * Unlike the q40/q43 verdict oracles, this sketch is VALUE-level
    * reproducible: tickets are md5 prefixes both engines compute
    * identically, so DuckDB re-derives the exact sample membership,
    * ranks and tickets.
    *
    * Scale: partial aggregation folds every partition to a k-pair
    * buffer; the shuffle moves |strata|×k pairs, never the corpus. */
  def q101WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang", $"doc_id", (lit(1L) + $"doc_id" % 8L).cast("int").as("w"))
      .as[(String, Long, Int)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.WeightedReservoir(WrsK).toColumn.name("sample"))
      .toDF("lang", "sample")
      .select($"lang", posexplode($"sample").as(Seq("i", "e")))
      .select($"lang", ($"i" + 1).cast("long").as("rk"),
        $"e._1".as("doc_id"), $"e._2".as("ticket"))
      .orderBy($"lang", $"rk")
  }

  lazy val q101Sql: String = {
    val h = DedupQueries.sqlH60Expr(
      "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))")
    s"""WITH t AS (
       |  SELECT lang, doc_id,
       |    list_min(list_transform(generate_series(1, CAST(1 + doc_id % 8 AS INT)),
       |      j -> $h)) AS ticket
       |  FROM documents)
       |SELECT lang, rk, doc_id, ticket FROM (
       |  SELECT lang, doc_id, ticket,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ticket, doc_id) AS rk
       |  FROM t)
       |WHERE rk <= $WrsK ORDER BY lang, rk""".stripMargin
  }

  // ---- q108: deterministic shard manifest (training-data global shuffle) ----

  /** Output shard count. Tiny here; at production scale it's the number
    * of training-data files (thousands) — the plan shape is unchanged. */
  val NShards = 16L

  /** q108: deterministic global shuffle + shard manifest — the last step
    * of a training-data pipeline: every document gets a pseudo-random but
    * REPRODUCIBLE position (60-bit keyed hash of its id — same order on
    * any cluster size, any partitioning, any rerun) and a shard
    * assignment (hash mod [[NShards]]); the manifest reports, per shard,
    * the doc/char totals plus an order checksum Σ doc_id·rank that pins
    * the exact global ordering — two runs that would write shards in a
    * different order cannot produce the same checksum.
    *
    * Scale: the global rank comes from [[graft.plans.PrefixSumPlan]]
    * (range-partition + per-partition sort + two-pass offset stitch —
    * fully parallel, NOT a single-task window; second production use of
    * the custom operator after q65). Everything else is one 16-key
    * partial-aggregated groupBy. The hash key is 60-bit md5, so rank
    * ties are impossible in practice (P(collision) ≈ n²/2⁶¹; a real
    * deployment appends doc_id as a tiebreak in the sort key). */
  def q108ShardManifest(s: SparkSession, dir: String): DataFrame =
    shardManifestCore(s, Tables.documents(s, dir))

  /** q108 body over an arbitrary documents frame (docs/SCALE.md measures it
    * on replicated corpora). */
  private[graft] def shardManifestCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val keyed = docs.select($"doc_id", $"n_chars",
      DedupQueries.h60(concat(lit("shard:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("one", lit(1L))
    graft.plans.PrefixSumPlan.scan(keyed, "h", "one", "rank0")
      .select($"doc_id", $"n_chars", $"h",
        pmod($"h", lit(NShards)).as("shard"), ($"rank0" + 1L).as("rank"))
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars_total"),
        min_by($"doc_id", $"h").as("first_doc"),
        max_by($"doc_id", $"h").as("last_doc"),
        sum($"doc_id" * $"rank").as("order_checksum"))
      .orderBy($"shard")
  }

  lazy val q108Sql: String = {
    val h = DedupQueries.sqlH60Expr("md5('shard:' || CAST(doc_id AS VARCHAR))")
    s"""WITH k AS (
       |  SELECT doc_id, n_chars, $h AS h FROM documents),
       |r AS (
       |  SELECT doc_id, n_chars, h, h % $NShards AS shard,
       |    ROW_NUMBER() OVER (ORDER BY h) AS rank FROM k)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       |  arg_min(doc_id, h) AS first_doc,
       |  arg_max(doc_id, h) AS last_doc,
       |  CAST(SUM(doc_id * rank) AS BIGINT) AS order_checksum
       |FROM r GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** Theta-sketch size: retained entries per set = K−1 = 63. */
  val ThetaK = 64
  /** The hash domain bound: h60 values lie in [0, 2^60). */
  val ThetaDomain = 1L << 60

  /** q115 — theta (KMV) sketch with SET-OPERATION estimates: the sketch
    * family's missing capability. q18's HLL answers |A| only — it cannot
    * estimate |A∩B| (inclusion–exclusion on HLL estimates compounds
    * error and yields negatives); the theta sketch (Dasgupta et al.,
    * the Apache DataSketches theta family) retains the K−1 smallest
    * distinct hash values per set and a threshold θ = K-th smallest, and
    * any set expression is then estimated by combining RETAINED ENTRIES
    * below the pairwise min-θ: est = n_below·2^60/θ. Per event-type user
    * sets, every pair reports estimated |A|, |B|, |A∪B|, |A∩B| next to
    * the exact audit columns (dropped at production scale — the q43/q87
    * pattern).
    *
    * Engine-exactness: the retained hashes are md5-prefix integers, the
    * threshold is an integer order statistic, and the estimator is one
    * double multiply-divide in fixed order → hash-exact vs DuckDB (a
    * VALUE-level oracle for the sketch, like q87's cells). Sets smaller
    * than K fold in naturally: θ = 2^60 and every estimate is EXACT —
    * spec-pinned.
    *
    * Scale: the occurrence frame is distinct (type, h) — bounded by
    * users×types, not events; per-type k-min is one 5-key window over
    * it (at production K-min is a mergeable typed Aggregator — q101's
    * min-k ticket fold IS that aggregator shape, reused); everything
    * pairwise touches only K-row sketches, never the corpus. */
  def q115ThetaSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    thetaCore(s, Tables.events(s, dir)
      .select($"event_type", $"user_id").distinct())
  }

  /** q115 body over an arbitrary distinct (event_type, user_id) frame —
    * fixture specs pin exact-mode equality and estimator error. */
  private[graft] def thetaCore(s: SparkSession, users: DataFrame): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"h")
    val hashes = users
      .select($"event_type",
        DedupQueries.h60($"user_id".cast("string")).as("h"))
      .distinct()
    val ranked = hashes
      .withColumn("rn", row_number().over(w)).where($"rn" <= ThetaK)
      .localCheckpoint(false) // ≤ types·K rows; three consumers below
    // θ = K-th smallest, or the domain bound in exact mode (|S| < K);
    // retained entries are the hashes strictly below θ
    val stats = ranked.groupBy($"event_type")
      .agg(coalesce(max(when($"rn" === ThetaK, $"h")), lit(ThetaDomain)).as("theta"))
    val retained = ranked.join(stats, "event_type").where($"h" < $"theta")
    def est(n: Column, theta: Column): Column =
      round(n.cast("double") * lit(ThetaDomain.toDouble) / theta.cast("double"), 4)
    val perType = retained.groupBy($"event_type")
      .agg(count(lit(1)).as("n_r")).join(stats, "event_type")
      .select($"event_type", $"theta", est($"n_r", $"theta").as("est_n"))
    // pairs share θ = min(θa, θb); membership below that θ is decidable
    // from the two sketches alone
    val pairs = perType.select($"event_type".as("type_a"), $"theta".as("ta"),
        $"est_n".as("est_a"))
      .join(perType.select($"event_type".as("type_b"), $"theta".as("tb"),
        $"est_n".as("est_b")), $"type_a" < $"type_b")
      .select($"type_a", $"type_b", least($"ta", $"tb").as("theta"),
        $"est_a", $"est_b")
    val ra = pairs.join(retained.select($"event_type".as("type_a"), $"h"), Seq("type_a"))
      .where($"h" < $"theta")
      .select($"type_a", $"type_b", $"h", lit(1).as("ina"), lit(0).as("inb"))
    val rb = pairs.join(retained.select($"event_type".as("type_b"), $"h"), Seq("type_b"))
      .where($"h" < $"theta")
      .select($"type_a", $"type_b", $"h", lit(0).as("ina"), lit(1).as("inb"))
    val sketchEsts = ra.unionByName(rb)
      .groupBy($"type_a", $"type_b", $"h")
      .agg(max($"ina").as("ina"), max($"inb").as("inb"))
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_u"), sum($"ina" * $"inb").as("n_i"))
      .join(pairs, Seq("type_a", "type_b"))
      .select($"type_a", $"type_b", $"est_a", $"est_b",
        est($"n_u", $"theta").as("est_union"),
        est($"n_i", $"theta").as("est_inter"))
    // exact audit (user-level; dropped at production scale)
    val ua = users.select($"event_type".as("type_a"), $"user_id")
    val ub = users.select($"event_type".as("type_b"), $"user_id")
    val exact = ua.groupBy($"type_a").agg(count(lit(1)).as("n_a"))
      .join(ub.groupBy($"type_b").agg(count(lit(1)).as("n_b")), $"type_a" < $"type_b")
      .join(ua.join(ub, Seq("user_id"))
        .where($"type_a" < $"type_b")
        .groupBy($"type_a", $"type_b").agg(count(lit(1)).as("n_common")),
        Seq("type_a", "type_b"), "left")
      .select($"type_a", $"type_b", $"n_a", $"n_b",
        coalesce($"n_common", lit(0L)).as("n_common"))
    // LEFT join (ADVICE r10): every pair always has an exact audit row,
    // and each non-empty set retains at least one hash below the pairwise
    // min-θ, so sketchEsts covers every pair today — but that invariant
    // is the estimator's, not the join's. A future estimator tweak that
    // drops a pair must surface as NULL estimates next to the audit row,
    // never as a silently missing pair.
    exact.join(sketchEsts, Seq("type_a", "type_b"), "left")
      .orderBy($"type_a", $"type_b")
  }

  val q115Sql: String = {
    val h = DedupQueries.sqlH60Expr("md5(CAST(user_id AS VARCHAR))")
    s"""WITH users AS (SELECT DISTINCT event_type, user_id FROM events),
       |hs AS (SELECT DISTINCT event_type, $h AS h FROM users),
       |rk AS (SELECT event_type, h, ROW_NUMBER() OVER (
       |         PARTITION BY event_type ORDER BY h) AS rn FROM hs),
       |kmin AS (SELECT * FROM rk WHERE rn <= $ThetaK),
       |st AS (SELECT event_type,
       |         COALESCE(MAX(CASE WHEN rn = $ThetaK THEN h END),
       |                  ${ThetaDomain}) AS theta
       |       FROM kmin GROUP BY 1),
       |ret AS (SELECT k.event_type, k.h, s.theta
       |        FROM kmin k JOIN st s USING (event_type) WHERE k.h < s.theta),
       |pt AS (SELECT event_type, theta,
       |         round(CAST(COUNT(*) AS DOUBLE) * ${ThetaDomain}.0
       |               / CAST(theta AS DOUBLE), 4) AS est_n
       |       FROM ret GROUP BY 1, 2),
       |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         LEAST(a.theta, b.theta) AS theta,
       |         a.est_n AS est_a, b.est_n AS est_b
       |       FROM pt a JOIN pt b ON a.event_type < b.event_type),
       |mem AS (
       |  SELECT type_a, type_b, h, MAX(ina) AS ina, MAX(inb) AS inb FROM (
       |    SELECT pr.type_a, pr.type_b, r.h, 1 AS ina, 0 AS inb
       |    FROM pr JOIN ret r ON r.event_type = pr.type_a AND r.h < pr.theta
       |    UNION ALL
       |    SELECT pr.type_a, pr.type_b, r.h, 0 AS ina, 1 AS inb
       |    FROM pr JOIN ret r ON r.event_type = pr.type_b AND r.h < pr.theta)
       |  GROUP BY 1, 2, 3),
       |se AS (SELECT m.type_a, m.type_b, pr.est_a, pr.est_b,
       |         round(CAST(COUNT(*) AS DOUBLE) * ${ThetaDomain}.0
       |               / CAST(pr.theta AS DOUBLE), 4) AS est_union,
       |         round(CAST(SUM(m.ina * m.inb) AS DOUBLE) * ${ThetaDomain}.0
       |               / CAST(pr.theta AS DOUBLE), 4) AS est_inter
       |       FROM mem m JOIN pr USING (type_a, type_b)
       |       GROUP BY 1, 2, 3, 4, pr.theta),
       |ex AS (SELECT na.type_a, nb.type_b, na.n_a, nb.n_b,
       |         CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common
       |       FROM (SELECT event_type AS type_a, COUNT(*) AS n_a FROM users GROUP BY 1) na
       |       JOIN (SELECT event_type AS type_b, COUNT(*) AS n_b FROM users GROUP BY 1) nb
       |         ON na.type_a < nb.type_b
       |       LEFT JOIN (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |                    COUNT(*) AS n_common
       |                  FROM users a JOIN users b ON a.user_id = b.user_id
       |                    AND a.event_type < b.event_type
       |                  GROUP BY 1, 2) cm
       |         ON cm.type_a = na.type_a AND cm.type_b = nb.type_b)
       |SELECT ex.type_a, ex.type_b, ex.n_a, ex.n_b, ex.n_common,
       |  se.est_a, se.est_b, se.est_union, se.est_inter
       |FROM ex LEFT JOIN se USING (type_a, type_b)
       |ORDER BY type_a, type_b""".stripMargin
  }

  // ---- q138: Pareto-frontier (skyline) document selection ----

  /** Skyline bucket width on the length axis: buckets are `a div 16`,
    * so the bucket-summary frame is max(a)/16 rows — KB-sized at any
    * corpus scale (the prefix-sum bounded-frame argument). */
  private val SkyBucketWidth = 16L

  /** q138: 2-D Pareto-frontier selection — "keep the documents not
    * dominated on (length, density)": doc d is dominated iff some other
    * doc is ≥ on both axes and > on at least one. The multi-criteria
    * curation primitive (quality-vs-length tradeoff sets, hard-example
    * frontiers) the single-score quota/budget ops (q81/q109) cannot
    * express — a scalar score forces a total order; the skyline keeps
    * every undominated tradeoff.
    *
    * Axes (integer-exact): a = word count; b = mean word length in
    * milli-chars (chars·1000 div words — integer division, no float).
    *
    * Scale design — the textbook skyline is quadratic (every doc vs
    * every doc: the oracle's NOT EXISTS), and the direct window
    * formulation (running max of b over a global ORDER BY a) is a
    * one-task sort. This plan is neither:
    *   1. bucket docs by `a div 16`; per-bucket max(b) is a tiny
    *      aggregate (map-side combine, KB result);
    *   2. suffix-max those bucket maxima ordered by bucket DESC — a
    *      single-partition window over the BOUNDED summary frame only
    *      (higher bucket ⇒ strictly greater a, so the suffix max is
    *      exactly "best b among all strictly-longer buckets"), then
    *      broadcast it back;
    *   3. within each bucket — windows PARTITIONED by bucket, parallel
    *      across the cluster — running max(b) over strictly-greater a
    *      (RANGE on negated a excludes ties exactly) plus max(b) per
    *      equal-a group.
    * Kept iff no strictly-longer doc has b ≥ mine AND my b is max among
    * my exact length (equal (a,b) pairs are mutually undominated — both
    * stay). Two small shuffles; nothing quadratic, nothing globally
    * sorted. */
  def q138ParetoFrontier(s: SparkSession, dir: String): DataFrame =
    paretoFrontierCore(s, Tables.documents(s, dir))

  /** q138 core over any (doc_id, text) frame — spec entry point. */
  private[graft] def paretoFrontierCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val words = filter(split($"text", " "), w => w =!= "")
    val metrics = docs
      .select($"doc_id", size(words).cast("long").as("a"),
        length(regexp_replace($"text", " ", "")).cast("long").as("chars"))
      .where($"a" > 0L)
      .select($"doc_id", $"a", expr("(chars * 1000) div a").as("b"),
        expr(s"a div $SkyBucketWidth").as("bucket"), (-$"a").as("nega"))
    // bounded bucket-summary frame: suffix max of b over higher buckets
    val bsum = metrics.groupBy($"bucket").agg(max($"b").as("bmax"))
    val wSuf = Window.orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val suf = bsum.select($"bucket", max($"bmax").over(wSuf).as("higher_bmax"))
    // per-bucket windows (parallel): strictly-greater-a running max + equal-a max
    val wStrict = Window.partitionBy($"bucket").orderBy($"nega")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy($"bucket", $"a")
    metrics.join(broadcast(suf), Seq("bucket"))
      .withColumn("dom_b", greatest(
        coalesce(max($"b").over(wStrict), lit(-1L)),
        coalesce($"higher_bmax", lit(-1L))))
      .withColumn("eq_bmax", max($"b").over(wEq))
      .where($"b" > $"dom_b" && $"b" === $"eq_bmax")
      .select($"doc_id", $"a".as("n_words"), $"b".as("awl_milli"))
      .orderBy($"n_words".desc, $"awl_milli".desc, $"doc_id")
  }

  /** Oracle: the quadratic NOT-EXISTS skyline definition — an
    * independent execution strategy (no buckets, no windows). */
  val q138Sql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS a,
       |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS chars
       |  FROM documents
       |  WHERE len(list_filter(string_split(text, ' '), w -> w <> '')) > 0),
       |mm AS (SELECT doc_id, a, (chars * 1000) // a AS b FROM m)
       |SELECT t.doc_id, t.a AS n_words, t.b AS awl_milli
       |FROM mm t
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM mm o
       |  WHERE o.a >= t.a AND o.b >= t.b AND (o.a > t.a OR o.b > t.b))
       |ORDER BY n_words DESC, awl_milli DESC, doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q138_pareto_frontier"    -> (q138ParetoFrontier _),
    "q115_theta_sketch"       -> (q115ThetaSketch _),
    "q108_shard_manifest"     -> (q108ShardManifest _),
    "q101_weighted_sample"    -> (q101WeightedSample _),
    "q40_bernoulli_sample"    -> (q40BernoulliSample _),
    "q41_kv_encode"           -> sortSharedQuery(q41KvEncode _),
    "q42_multimodal_features" -> (q42MultimodalFeatures _),
    "q43_heavy_hitters"       -> (q43HeavyHitters _),
    "q87_cms_frequency"       -> (q87CmsFrequency _),
    "q92_bloom_join"          -> (q92BloomJoin _),
    "q93_quantile_sketch"     -> sortSharedQuery(q93QuantileSketch _),
    "q96_rollup_distinct"     -> (q96RollupDistinct _),
  )

  /** All oracle-checked: q41/q43 since round 5, q40/q42 since round 6
    * (verdict-style bounds), q92/q93 since round 7 — zero rows-only
    * entries left. */
  val oracleSql: Map[String, String] = Map(
    "q138_pareto_frontier"    -> q138Sql,
    "q115_theta_sketch"       -> q115Sql,
    "q108_shard_manifest"     -> q108Sql,
    "q101_weighted_sample"    -> q101Sql,
    "q40_bernoulli_sample"    -> q40Sql,
    "q41_kv_encode"           -> q41Sql,
    "q42_multimodal_features" -> q42Sql,
    "q43_heavy_hitters"       -> q43Sql,
    "q87_cms_frequency"       -> q87Sql,
    "q92_bloom_join"          -> q92Sql,
    "q93_quantile_sketch"     -> q93Sql,
    "q96_rollup_distinct"     -> q96Sql,
  )
}
