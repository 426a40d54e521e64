package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Materialize.{Rounds, sortSharedQuery}

/** Text-analysis operators for a large-scale training-data pipeline:
  * token statistics, quality scoring, language ID (n-gram/stopword
  * heuristic), and a BPE-ish regex tokenizer count.
  *
  * Scale design: every operator here is a PER-ROW projection built from
  * codegen'd built-ins (split / HOFs / regex) — no shuffle, no UDF, no
  * driver state. On 100 TB of documents these run map-only at scan speed,
  * and column pruning means only `doc_id`+`text` are read.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokens of `text` (the corpus is single-space separated). */
  private def toks(c: Column): Column = split(c, " ")

  // Stopword/marker lists shared between the Spark side and the SQL oracle.
  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private val markEn = Seq("the", "is", "and", "of", "to")
  private val markDe = Seq("der", "die", "das", "und", "ist")
  private val markFr = Seq("le", "la", "les", "et", "est")
  private val markEs = Seq("el", "los", "las", "y", "es")

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Count of tokens that appear in `words`, as a codegen'd HOF chain. */
  private def countIn(ts: Column, words: Seq[String]): Column =
    size(filter(ts, t => t.isin(words.map(x => x: Any): _*)))

  /** q20: token statistics (token counting: whitespace tokenizer). */
  def q20TextStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        length($"text").as("len_chars"),
        size(toks($"text")).as("n_tokens"),
        size(array_distinct(toks($"text"))).as("n_uniq_tokens"))
      .orderBy($"doc_id")
  }

  val q20Sql: String =
    """SELECT doc_id,
      | LENGTH(text) AS len_chars,
      | len(string_split(text, ' ')) AS n_tokens,
      | len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Stopword / punctuation ratios over a `text` column — shared by q21
    * and the q100 pipeline gate so the definitions cannot drift. */
  private def stopRatioCol: Column = {
    val t = toks(col("text"))
    countIn(t, stopEn).cast("double") / size(t).cast("double")
  }
  private def punctRatioCol: Column =
    (length(col("text")) -
      length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))).cast("double") /
      length(col("text")).cast("double")

  /** The q21 boolean quality gate as a standalone column (q100 composes
    * it without the ratio outputs). */
  private[graft] def qualityOkCol: Column =
    length(col("text")) >= 100 && stopRatioCol <= lit(0.3) &&
      punctRatioCol <= lit(0.1)

  private def stopRatioSql: String =
    s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(stopEn)})) AS DOUBLE)" +
      " / CAST(len(string_split(text, ' ')) AS DOUBLE)"
  private def punctRatioSql: String =
    "CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)" +
      " / CAST(LENGTH(text) AS DOUBLE)"

  /** SQL dual of [[qualityOkCol]]. */
  private[graft] def qualityOkSql: String =
    s"(LENGTH(text) >= 100 AND $stopRatioSql <= 0.3 AND $punctRatioSql <= 0.1)"

  /** q21: quality scoring — stopword ratio, punctuation ratio, mean token
    * length, and a boolean gate. Ratios are exact IEEE divisions of integer
    * counts, so they hash-match across engines without rounding. */
  def q21TextQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val nTok = size(t).cast("double")
    val avgTokLen = aggregate(t, lit(0),
      (acc, x) => acc + length(x)).cast("double") / nTok
    Tables.documents(s, dir)
      .select($"doc_id",
        stopRatioCol.as("stop_ratio"),
        punctRatioCol.as("punct_ratio"),
        avgTokLen.as("avg_tok_len"),
        qualityOkCol.as("quality_ok"))
      .orderBy($"doc_id")
  }

  val q21Sql: String = {
    val avgTok = "CAST(list_sum(list_transform(string_split(text, ' '), t -> LENGTH(t))) AS DOUBLE)" +
      " / CAST(len(string_split(text, ' ')) AS DOUBLE)"
    s"""SELECT doc_id,
       | $stopRatioSql AS stop_ratio,
       | $punctRatioSql AS punct_ratio,
       | $avgTok AS avg_tok_len,
       | $qualityOkSql AS quality_ok
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** q22: language ID via stopword-marker counting with a deterministic
    * arg-max (priority order en > de > fr > es on ties; 'unknown' when no
    * marker hits). A real pipeline would use char-n-gram profiles; the
    * Spark shape (per-row HOF counts + CASE) is identical. */
  def q22LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val (nEn, nDe, nFr, nEs) =
      (countIn(t, markEn), countIn(t, markDe), countIn(t, markFr), countIn(t, markEs))
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        nEn.as("n_en"), nDe.as("n_de"), nFr.as("n_fr"), nEs.as("n_es"))
      .withColumn("lang_pred",
        when($"n_en" === 0 && $"n_de" === 0 && $"n_fr" === 0 && $"n_es" === 0, "unknown")
          .when($"n_en" >= $"n_de" && $"n_en" >= $"n_fr" && $"n_en" >= $"n_es", "en")
          .when($"n_de" >= $"n_fr" && $"n_de" >= $"n_es", "de")
          .when($"n_fr" >= $"n_es", "fr")
          .otherwise("es"))
      .orderBy($"doc_id")
  }

  val q22Sql: String = {
    def cnt(ws: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), t -> t IN ${sqlList(ws)}))"
    s"""SELECT doc_id, lang, n_en, n_de, n_fr, n_es,
       | CASE
       |   WHEN n_en = 0 AND n_de = 0 AND n_fr = 0 AND n_es = 0 THEN 'unknown'
       |   WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
       |   WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
       |   WHEN n_fr >= n_es THEN 'fr'
       |   ELSE 'es'
       | END AS lang_pred
       |FROM (
       |  SELECT doc_id, lang,
       |    ${cnt(markEn)} AS n_en, ${cnt(markDe)} AS n_de,
       |    ${cnt(markFr)} AS n_fr, ${cnt(markEs)} AS n_es
       |  FROM documents
       |)
       |ORDER BY doc_id""".stripMargin
  }

  /** q23: BPE-ish token count — alpha runs, single digits, single
    * punctuation marks (regex shared with the oracle; RE2/Java compatible). */
  def q23TokenRegexCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        regexp_count($"text", lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"))
          .as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }

  val q23Sql: String =
    """SELECT doc_id,
      | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- q56: deterministic stratified train/val/test split ----

  /** q56: content-addressed dataset split — every document lands in
    * train/val/test by `md5(doc_id) mod 100` (80/10/10), reported as
    * per-(lang, split) counts. The hash assignment is the point: it is
    * STABLE under corpus growth (a document's split never changes when
    * neighbors are added/removed — row_number-based splits reshuffle
    * everything) and needs no global sort or driver state.
    *
    * Scale: map-only hash + one partial-aggregated count; the result is
    * strata × 3 rows. This is how a 100 TB corpus gets split: no sampling
    * pass, no persisted assignment table. */
  /** The per-document split assignment: a pure function of the id, so a
    * document's split survives corpus growth/shrinkage (row_number splits
    * reshuffle on any change) — pinned in PipelineQueriesSpec. */
  def splitAssign(id: Column): Column = {
    val bucket = pmod(
      graft.functions.Md5Prefix64(id.cast("string").cast("binary"), 8),
      lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  def q56StratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = splitAssign($"doc_id")
    Tables.documents(s, dir)
      .select($"lang", split.as("split"), $"n_chars")
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang", $"split")
  }

  /** SQL dual of [[splitAssign]] over an id expression — shared by q56
    * and q164 so the split rule cannot drift. */
  private[graft] def splitCaseSql(idExpr: String): String = {
    val bucket = s"(${DedupQueries.sqlH32(s"CAST($idExpr AS VARCHAR)")} % 100)"
    s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' " +
      "ELSE 'test' END"
  }

  val q56Sql: String = {
    s"""SELECT lang,
       | ${splitCaseSql("doc_id")} AS split,
       | COUNT(*) AS n_docs,
       | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY lang, split""".stripMargin
  }

  // ---- q57: TF-IDF top terms per document ----

  val TfIdfTopK = 3

  /** q57: corpus-weighted term scoring — smoothed TF-IDF
    * (`tf · (ln((N+1)/(df+1)) + 1)`, the sklearn formulation) with the
    * top-[[TfIdfTopK]] terms per document.
    *
    * Scale design: term frequencies are one shuffle on (doc_id, term);
    * document frequencies aggregate THAT result (vocabulary-sized, ≪
    * corpus) and come back as a broadcast join, so the corpus-sized side
    * never reshuffles for the idf lookup. The corpus size N joins as a
    * broadcast single row (no driver-side count). Top-k is a row_number
    * window → WindowGroupLimit pushes the limit into the partial sort.
    *
    * Determinism: the ranking and output key is round(tfidf, 6) with a
    * term tie-break (the float-similarity recipe), so an ulp-level ln()
    * disagreement between engines cannot flip ranks. */
  def q57TfIdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tok = docs.select($"doc_id", explode(toks($"text")).as("term"))
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term", $"tf", $"df",
        round($"tf" * (log(($"n" + lit(1.0)) / ($"df" + lit(1.0))) + lit(1.0)), 6)
          .as("tfidf_r"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"tfidf_r".desc, $"term")))
      .where($"rnk" <= TfIdfTopK)
      .select($"doc_id", $"rnk", $"term", $"tf", $"df", $"tfidf_r")
      .orderBy($"doc_id", $"rnk")
  }

  val q57Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf_r
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY tfidf_r DESC, term) AS rnk
       |  FROM scored)
       |SELECT doc_id, rnk, term, tf, df, tfidf_r
       |FROM ranked WHERE rnk <= $TfIdfTopK
       |ORDER BY doc_id, rnk""".stripMargin

  // ---- q63: tokenizer vocabulary build ----

  /** q63: vocabulary construction for a tokenizer — corpus-wide token
    * counts with dense ids assigned by (count desc, token asc). This is
    * the counting pass of WordPiece/BPE-style vocab building (the corpus
    * statistics; merges would iterate on top of these counts).
    *
    * Scale design: one shuffle on the token (uniform by content, partial
    * map-side counts), after which the frame is VOCABULARY-sized — the
    * global row_number window runs on thousands of rows, not the corpus,
    * so its single window task is fine at any corpus size. */
  def q63VocabBuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select(explode(toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .withColumn("token_id",
        (row_number().over(Window.orderBy($"cnt".desc, $"token")) - 1).cast("long"))
      .orderBy($"token_id")
  }

  val q63Sql: String =
    """WITH c AS (
      |  SELECT t AS token, COUNT(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY 1)
      |SELECT token, cnt,
      |  ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS token_id
      |FROM c ORDER BY token_id""".stripMargin

  // ---- q64: BM25 relevance scoring ----

  /** Fixed query terms: one rare discriminative token and two common ones
    * (chosen from the corpus vocabulary). */
  val Bm25Terms = Seq("dup", "data", "vector")
  val Bm25K1 = 1.2
  val Bm25B  = 0.75
  val Bm25TopK = 20

  /** q64: BM25 document ranking for a fixed multi-term query, top-k docs.
    *
    * Uses the RATIONAL idf `(N − df + 0.5)/(df + 0.5)` (BM25's idf without
    * the log): every input is an integer count, so the score is a fixed
    * dag of IEEE divisions/multiplications that both engines evaluate
    * identically — no ln() whose last ulp could differ between libm
    * implementations. The per-term scores are summed in FIXED term order
    * (explicit conditional aggregates, not an unordered SUM over rows),
    * and ranking still goes through round(score, 6) with a doc_id
    * tie-break (the float-similarity recipe), belt and braces.
    *
    * Scale design: term frequencies shuffle once on (doc_id, term) but
    * only for the 3 query terms (the filter sits on the exploded scan, so
    * 99%+ of tokens never leave the map side); df and avgdl are
    * vocabulary/constant-sized broadcasts; top-k is orderBy+limit =
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  def q64Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val dl = docs.select($"doc_id", size(toks($"text")).cast("long").as("dl"))
    // corpus constants as a broadcast 1-row frame (no driver-side collect)
    val consts = docs.agg(
      count(lit(1)).as("n"),
      sum(size(toks($"text")).cast("long")).as("total_dl"))
    val tf = docs
      .select($"doc_id", explode(toks($"text")).as("term"))
      .where($"term".isin(Bm25Terms.map(x => x: Any): _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val scoredTerm = tf
      .join(dl, Seq("doc_id"))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(consts))
      .select($"doc_id", $"term",
        // rational idf · saturated tf, parenthesization fixed on both sides
        ((($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))) *
          (($"tf" * lit(Bm25K1 + 1.0)) /
            ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
              lit(Bm25B) * ($"dl".cast("double") /
                ($"total_dl".cast("double") / $"n".cast("double")))))))
          .as("s"))
    // fixed-order cross-term sum: one conditional aggregate per term
    val perDoc = scoredTerm.groupBy($"doc_id").agg(
      Bm25Terms.map(t => coalesce(max(when($"term" === t, $"s")), lit(0.0)))
        .reduceLeft(_ + _).as("score"))
    perDoc
      .select($"doc_id", round($"score", 6).as("score_r"))
      .orderBy($"score_r".desc, $"doc_id")
      .limit(Bm25TopK)
  }

  val q64Sql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    val termSum = Bm25Terms
      .map(t => s"COALESCE(MAX(CASE WHEN term = '$t' THEN s END), 0.0)")
      .mkString(" + ")
    s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl
       |            FROM documents),
       |consts AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, t AS term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)
       |  WHERE t IN $termList GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |st AS (
       |  -- float literals carry an e0 exponent so DuckDB parses them as
       |  -- DOUBLE (a bare 0.5 would be DECIMAL there, double on Spark)
       |  SELECT tf.doc_id, tf.term,
       |    (((consts.n - df.df + 0.5e0) / (df.df + 0.5e0)) *
       |      ((tf.tf * ${Bm25K1 + 1.0}e0) /
       |        (tf.tf + ${Bm25K1}e0 * (${1.0 - Bm25B}e0 +
       |          ${Bm25B}e0 * (CAST(dl.dl AS DOUBLE) /
       |            (CAST(consts.total_dl AS DOUBLE) / CAST(consts.n AS DOUBLE))))))) AS s
       |  FROM tf JOIN df USING (term) CROSS JOIN consts JOIN dl ON dl.doc_id = tf.doc_id)
       |SELECT doc_id, ROUND($termSum, 6) AS score_r
       |FROM st GROUP BY doc_id
       |ORDER BY score_r DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  // ---- q70: feature hashing (the hashing trick) ----

  /** Dimensionality of the hashed feature space. */
  val HashBuckets = 64L

  /** q70: hashing-trick featurization — every token maps to
    * `md5_32(token) mod [[HashBuckets]]`, giving each document a fixed-
    * width sparse count vector regardless of vocabulary size (the
    * standard trick when the vocab is unbounded or unknown upfront:
    * no dictionary to build, ship, or broadcast).
    *
    * Scale design: map-only until the (doc_id, bucket) count (one
    * shuffle, partial map-side); the hash is the native Md5Prefix64
    * codegen expression. Emitted as (doc_id, bucket, n) COO triples —
    * the layout a trainer's sparse-matrix loader wants.
    *
    * Portability: md5 is the cross-engine hash contract (same as
    * q25/q56); the oracle parses the same 8 hex chars. */
  def q70FeatureHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(toks($"text")).as("token"))
      .select($"doc_id",
        pmod(DedupQueries.h32($"token"), lit(HashBuckets)).as("bucket"))
      .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("n"))
      .orderBy($"doc_id", $"bucket")
  }

  val q70Sql: String =
    s"""WITH occ AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
       |SELECT doc_id, (${DedupQueries.sqlH32("token")}) % $HashBuckets AS bucket,
       |  COUNT(*) AS n
       |FROM occ
       |GROUP BY 1, 2
       |ORDER BY doc_id, bucket""".stripMargin

  // ---- q71: bigram language-model counts ----

  val BigramTopK = 3

  /** q71: bigram LM table — per leading token, the top-[[BigramTopK]]
    * continuations with counts and conditional probability (count-based
    * MLE). Consecutive-token bigrams keep their multiplicity (unlike
    * dedup shingles: an LM counts occurrences, not set membership).
    *
    * Scale design: bigram minting is map-only (bind-bound HOF over one
    * tokenization), counts are one shuffle on the bigram, the per-w1
    * totals reaggregate the (already tiny) bigram table, and the top-k
    * is a WindowGroupLimit-compacted row_number. The conditional
    * probability is a single long/long IEEE division — deterministic in
    * both engines without rounding tricks. */
  /** Positional bigram strings of `text` (empty when < 2 tokens) —
    * shared by q71 (the LM table) and q91 (the LM quality filter). */
  private def bigramsOf(text: org.apache.spark.sql.Column) =
    graft.functions.Cols.bind(toks(text)) { t =>
      when(size(t) >= 2,
        transform(sequence(lit(1), size(t) - 1), i =>
          concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
        .otherwise(array().cast("array<string>"))
    }

  def q71BigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(explode(bigramsOf($"text")).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("cnt"))
      .select(split($"bg", " ").getItem(0).as("w1"),
        split($"bg", " ").getItem(1).as("w2"), $"cnt")
    val totals = counts.groupBy($"w1").agg(sum($"cnt").as("total"))
    counts
      .join(totals, Seq("w1"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"w1").orderBy($"cnt".desc, $"w2")))
      .where($"rnk" <= BigramTopK)
      .select($"w1", $"rnk".cast("long").as("rnk"), $"w2", $"cnt",
        ($"cnt".cast("double") / $"total".cast("double")).as("prob"))
      .orderBy($"w1", $"rnk")
  }

  val q71Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bg AS (
       |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM toks WHERE len(t) >= 2),
       |counts AS (
       |  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
       |    COUNT(*) AS cnt
       |  FROM bg GROUP BY 1, 2),
       |totals AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS total FROM counts GROUP BY 1),
       |ranked AS (
       |  SELECT c.w1, c.w2, c.cnt, t.total,
       |    ROW_NUMBER() OVER (PARTITION BY c.w1 ORDER BY c.cnt DESC, c.w2) AS rnk
       |  FROM counts c JOIN totals t USING (w1))
       |SELECT w1, CAST(rnk AS BIGINT) AS rnk, w2, cnt,
       |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS prob
       |FROM ranked WHERE rnk <= $BigramTopK
       |ORDER BY w1, rnk""".stripMargin

  // ---- q91: LM quality filter (perplexity proxy) ----

  /** Keep cut on the mean bigram probability (measured sf0.01
    * distribution: 1%–99% quantiles 0.0315–0.0375; 0.033 drops the
    * lowest-fluency ~10%). */
  val LmKeepMin = 0.033

  /** q91: language-model quality filtering — the CCNet/Gopher-style
    * fluency gate: score every document by the MEAN probability of its
    * bigrams under the corpus bigram MLE (q71's model) and drop the
    * lowest-scoring tail. Garbled, shuffled, or template-fragment text
    * scores low because its transitions are rare in the corpus; this
    * catches degradation that per-row stats (q21) and repetition (q78)
    * both miss.
    *
    * Engine-exact scoring: each P(w2|w1) is ONE correctly-rounded
    * division, quantized to integer picounits (floor(P·1e12 + 0.5) —
    * the q72 trick), so the per-doc sum is exact integer arithmetic and
    * the final mean is two correctly-rounded double ops in fixed order.
    * No logs: a log-perplexity would hit libm's cross-engine ulp
    * differences; the mean probability is order-equivalent for a
    * same-length comparison and threshold-equivalent for the gate.
    *
    * Scale: the model is vocab²-bounded (≪ corpus, one (bg) agg + one
    * w1-keyed agg/join); scoring joins occurrences to the model on the
    * bigram key — content-uniform, AQE broadcasts the model while it
    * fits — then one doc-keyed aggregate. Two corpus passes total
    * (model build + scoring), both map-heavy. */
  /** The q91 scoring chain up to the per-doc integer sums: (doc_id,
    * n_bigrams, sq) — shared with q153's continuous-score gate so the
    * two can never drift on the score definition. */
  private def lmDocSums(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val occ = Tables.documents(s, dir)
      .select($"doc_id", explode(bigramsOf($"text")).as("bg"))
    val counts = occ.groupBy($"bg").agg(count(lit(1)).as("cnt"))
    val totals = counts
      .select(split($"bg", " ").getItem(0).as("w1"), $"cnt")
      .groupBy($"w1").agg(sum($"cnt").as("total"))
    val model = counts
      .withColumn("w1", split($"bg", " ").getItem(0))
      .join(totals, Seq("w1"))
      .select($"bg", floor($"cnt".cast("double") / $"total".cast("double")
        * lit(1.0e12) + lit(0.5)).cast("long").as("qp"))
    occ.join(model, Seq("bg"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"qp").as("sq"))
  }

  /** The rounded mean-probability score over [[lmDocSums]] columns. */
  private def lmAvgCol = round(
    (col("sq").cast("double") / lit(1.0e12)) / col("n_bigrams"), 6)

  def q91LmQualityFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lmDocSums(s, dir)
      .select($"doc_id", $"n_bigrams", lmAvgCol.as("avg_prob"),
        (lmAvgCol >= LmKeepMin).as("keep"))
      .orderBy($"doc_id")
  }

  /** The q91 scoring CTEs up to the per-doc sums table `sc` — shared
    * oracle text for q91 and q153 (single-sourcing rule). */
  private def lmScoreCtes: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |occ AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM toks WHERE len(t) >= 2),
       |counts AS (SELECT bg, COUNT(*) AS cnt FROM occ GROUP BY bg),
       |totals AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(cnt) AS total
       |           FROM counts GROUP BY 1),
       |model AS (
       |  SELECT c.bg,
       |    CAST(floor(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)
       |      * 1.0e12 + 0.5e0) AS BIGINT) AS qp
       |  FROM counts c JOIN totals t ON string_split(c.bg, ' ')[1] = t.w1),
       |sc AS (
       |  SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(m.qp) AS BIGINT) AS sq
       |  FROM occ o JOIN model m USING (bg) GROUP BY o.doc_id)""".stripMargin

  val q91Sql: String =
    s"""WITH $lmScoreCtes
       |SELECT doc_id, n_bigrams,
       |  round((CAST(sq AS DOUBLE) / 1.0e12) / n_bigrams, 6) AS avg_prob,
       |  round((CAST(sq AS DOUBLE) / 1.0e12) / n_bigrams, 6) >= $LmKeepMin AS keep
       |FROM sc ORDER BY doc_id""".stripMargin

  // ---- q65: sequence packing (concatenate-and-chunk) ----

  /** Context-window size, in tokens, for q65 packing. */
  val PackChunk = 512L

  /** q65: concatenate-and-chunk sequence packing — the standard LLM
    * training-data layout: documents are laid end-to-end in doc_id order
    * and cut into fixed [[PackChunk]]-token windows; each doc learns its
    * global token offset, its first chunk, and whether it straddles a
    * chunk boundary.
    *
    * The global running offset comes from the custom Catalyst operator
    * [[graft.plans.PrefixSumPlan]] (logical node + injected strategy +
    * PrefixSumExec, whose requiredChildDistribution makes
    * EnsureRequirements plant the parallel range-partition + sort) — NOT
    * from an unpartitioned `Window.orderBy` (a single-task bottleneck at
    * scale). `operators/PrefixSum` is the extension-free RDD spelling of
    * the same two-pass scan; PrefixSumSpec pins both equal to the window
    * spelling. Everything after the scan is map-only integer
    * arithmetic. */
  def q65ChunkPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toksPerDoc = Tables.documents(s, dir)
      .select($"doc_id", size(toks($"text")).cast("long").as("n_tokens"))
    graft.plans.PrefixSumPlan
      .scan(toksPerDoc, "doc_id", "n_tokens", "offset")
      .select($"doc_id", $"n_tokens", $"offset",
        expr(s"offset div $PackChunk").as("chunk_id"),
        expr(s"(offset + n_tokens - 1) div $PackChunk").as("end_chunk"))
      .withColumn("spans_chunks",
        ($"end_chunk" > $"chunk_id").cast("int"))
      .orderBy($"doc_id")
  }

  val q65Sql: String =
    s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
       |           FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS "offset"
       |  FROM t)
       |SELECT doc_id, n_tokens, "offset",
       |  "offset" // $PackChunk AS chunk_id,
       |  ("offset" + n_tokens - 1) // $PackChunk AS end_chunk,
       |  CAST(("offset" + n_tokens - 1) // $PackChunk > "offset" // $PackChunk
       |       AS INT) AS spans_chunks
       |FROM o ORDER BY doc_id""".stripMargin

  // ---- q78: repetition ratio (n-gram duplication quality signal) ----

  /** Word n-gram order for the repetition signal. */
  val RepGram = 5

  /** q78: per-document repetition ratio — the fraction of word 5-grams
    * that are repeats of an earlier 5-gram in the same document
    * (1 − distinct/total). The standard LLM-corpus quality filter for
    * degenerate/boilerplate text (Rae et al., Gopher §A.1.1: "repetition"
    * filters; also the C4 "three-sentence dedup" family): high ratio ⇒
    * looping or templated content.
    *
    * Scale design: map-only — the gram array is built and deduped inside
    * one projection per row (bind-bound so the token array materializes
    * once), no shuffle before the final sort; at 100 TB this runs at
    * scan speed alongside the other quality signals (q21). */
  def q78RepetitionRatio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = graft.functions.Cols.bind(split($"text", " ")) { t =>
      val n = size(t)
      when(n >= RepGram,
        transform(sequence(lit(1), n - (RepGram - 1)), i =>
          concat_ws(" ", (0 until RepGram).map(k => element_at(t, i + k)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    Tables.documents(s, dir)
      .select($"doc_id", grams.as("g"))
      .select($"doc_id", size($"g").cast("long").as("n_grams"),
        size(array_distinct($"g")).cast("long").as("n_distinct"))
      .where($"n_grams" > 0)
      .select($"doc_id", $"n_grams", $"n_distinct",
        (lit(1.0) - $"n_distinct".cast("double") / $"n_grams".cast("double"))
          .as("rep_ratio"))
      .orderBy($"doc_id")
  }

  val q78Sql: String = {
    val g = (0 until RepGram).map(k => s"string_split(text, ' ')[i+$k]")
      .mkString(" || ' ' || ")
    s"""WITH grams AS (
       |  SELECT doc_id,
       |    CASE WHEN len(string_split(text, ' ')) >= $RepGram THEN
       |      list_transform(generate_series(1, len(string_split(text, ' ')) - ${RepGram - 1}),
       |        i -> $g)
       |    ELSE [] END AS g
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(g) AS BIGINT) AS n_grams,
       |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
       |  1.0e0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE) AS rep_ratio
       |FROM grams WHERE len(g) > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q80: PII redaction (training-data scrubbing) ----

  /** q80: regex PII scrub over the event property payloads — digit runs
    * (ids, phones, zips) and email-shaped tokens replaced by typed
    * placeholders, with a per-row hit count for audit. The pre-training
    * privacy pass every corpus pipeline runs before text reaches a
    * model; patterns are deliberately RE2-safe (character classes and
    * counted repetition only) so Spark's Java regex and the oracle agree
    * symbol-for-symbol.
    *
    * `n_hits` counts ACTUAL replacements: email hits on the original
    * text, digit hits on the email-redacted INTERMEDIATE — digits inside
    * an email are replaced once as part of the <EMAIL> hit, so counting
    * them again on the original would make the audit exceed the number
    * of redactions performed (round-5 advice).
    *
    * Scale design: map-only projection (regexp_replace + extract_all are
    * codegen'd), no shuffle before the final sort. */
  def q80PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val email = "[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+"
    val digits = "[0-9]+"
    Tables.events(s, dir)
      .select($"event_id", $"props")
      .select($"event_id", $"props",
        regexp_replace($"props", email, "<EMAIL>").as("deemailed"))
      .select($"event_id",
        regexp_replace($"deemailed", digits, "<NUM>").as("props_redacted"),
        (size(regexp_extract_all($"props", lit(email), lit(0))) +
          size(regexp_extract_all($"deemailed", lit(digits), lit(0))))
          .cast("long").as("n_hits"))
      .orderBy($"event_id")
  }

  val q80Sql: String =
    """WITH de AS (
      |  SELECT event_id, props,
      |    regexp_replace(props, '[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g') AS deemailed
      |  FROM events)
      |SELECT event_id,
      |  regexp_replace(deemailed, '[0-9]+', '<NUM>', 'g') AS props_redacted,
      |  CAST(len(regexp_extract_all(props, '[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+')) +
      |       len(regexp_extract_all(deemailed, '[0-9]+')) AS BIGINT) AS n_hits
      |FROM de ORDER BY event_id""".stripMargin

  // ---- q81: per-source quota capping (corpus balancing) ----

  /** Per-source document quota. */
  val SourceQuota = 10

  /** q81: deterministic per-source sampling — keep at most [[SourceQuota]]
    * documents per source, chosen by md5-hash rank. The corpus-balancing
    * step of every mixture pipeline (cap the crawl-heavy domain so it
    * can't drown the rest): hash-rank selection is stable across runs,
    * engines and partitionings — a seeded RNG would be none of those —
    * and uniform over each source.
    *
    * Scale design: rank-filter windows rewrite to WindowGroupLimit
    * (pinned for q08), so each partition keeps only its top-k per source
    * before the shuffle — per-reducer state is k rows, immune to a
    * crawl-dump source with 10⁹ docs. */
  def q81SourceQuota(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        row_number().over(w).cast("long").as("rk"))
      .where($"rk" <= SourceQuota)
      .orderBy($"source", $"rk")
  }

  val q81Sql: String =
    s"""SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $SourceQuota ORDER BY source, rk""".stripMargin

  // ---- q149: per-source adaptive quality gate (exact domain quantile) ----

  /** Quantile denominator: the gate drops (roughly) the bottom 1/4 of
    * each source by score — ties at the threshold are KEPT. */
  val GateDen = 4L

  /** q149: per-source ADAPTIVE quality gate — drop each source's bottom
    * quartile by an integer quality score (here document length, the
    * per-domain-calibrated form of Gopher's length rule: a threshold
    * that is right for a books domain starves a forum domain, so each
    * source gets its own cut). q81 caps sources by COUNT with a
    * data-independent hash rank; this gates by the score DISTRIBUTION,
    * with the threshold itself data-dependent. Exact rank semantics,
    * no interpolation: thr(source) = the smallest score s with
    * |{docs: score ≤ s}| ≥ ⌈n/4⌉ (cross-multiplied to GateDen·cum ≥ n —
    * pure integers), keep = score ≥ thr, so ≥ 75% of every source
    * survives and ties at the threshold are kept.
    *
    * Scale design — the threshold is computed over the (source, score)
    * DOMAIN, never by sorting rows: (1) one map-side-combinable count
    * aggregation collapses the corpus to domain-sized (source, score, c)
    * rows — bounded by sources × distinct lengths, NOT corpus rows;
    * (2) the cumulative rank runs on that tiny frame (a per-source
    * window whose partitions are score-domain-sized, immune to a
    * 10⁹-doc source — the reason this is not percent_rank over rows);
    * (3) per-source thresholds (|sources| rows) broadcast back and the
    * gate COUNT is itself Σc over the checkpointed domain — the corpus
    * is touched exactly once, by step (1). Contrast q47 (interpolated
    * percentile VALUES via the builtin aggregate) and q93 (GK sketch
    * when the domain is unbounded). */
  def q149AdaptiveGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    adaptiveGateCore(s, Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars".cast("long").as("score")))
  }

  /** The (source, score, c) value domain of a scored frame — the ONE
    * corpus-width aggregation q149/q150 pay; everything downstream is
    * domain-sized. Callers localCheckpoint it (KB frame, multiple
    * consumers — the §9 rule: plan-branch reuse does not dedupe the
    * corpus scan). */
  private def scoreDomain(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    scored.groupBy($"source", $"score").agg(count(lit(1)).as("c"))
  }

  /** Exact rank-`1/mult` threshold per source over an ALREADY-AGGREGATED
    * (source, score, c) domain: the smallest score whose cumulative
    * count reaches ⌈n/mult⌉ (cross-multiplied — mult·cum ≥ n). mult = 4
    * is q149's bottom-quartile cut, mult = 2 the lower median q150's
    * robust statistics build on. Returns (source, thr, n_docs). */
  private[queries] def domainRankThreshold(dom: DataFrame, mult: Long): DataFrame = {
    import dom.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val tot = dom.groupBy($"source").agg(sum($"c").as("n_docs"))
    val cum = dom
      .withColumn("cum", sum($"c").over(
        Window.partitionBy($"source").orderBy($"score")))
    cum.join(tot, "source")
      .where($"cum" * mult >= $"n_docs")
      .groupBy($"source").agg(min($"score").as("thr"), first($"n_docs").as("n_docs"))
  }

  /** q149 body over any (doc_id, source, score) frame (fixtures and
    * scaling runs bind their own). ONE corpus scan: the gate count is
    * itself derived from the checkpointed domain (Σc over score ≥ thr),
    * so no per-row pass follows the domain mint. */
  private[graft] def adaptiveGateCore(s: SparkSession, scored: DataFrame): DataFrame = {
    import s.implicits._
    val dom = scoreDomain(scored).localCheckpoint(false) // KB; 2 consumers
    val thr = domainRankThreshold(dom, GateDen)
    dom.join(broadcast(thr), "source")
      .groupBy($"source")
      .agg(first($"n_docs").as("n_docs"), first($"thr").as("thr"),
        sum(when($"score" >= $"thr", $"c").otherwise(0L)).as("n_kept"))
      .select($"source", $"n_docs", $"thr", $"n_kept")
      .orderBy($"source")
  }

  val q149Sql: String =
    s"""WITH sc AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
       |            FROM documents),
       |dom AS (SELECT source, score, COUNT(*) AS c FROM sc GROUP BY source, score),
       |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs FROM dom GROUP BY source),
       |cum AS (SELECT source, score,
       |          SUM(c) OVER (PARTITION BY source ORDER BY score) AS cum
       |        FROM dom),
       |thr AS (SELECT cum.source, MIN(score) AS thr
       |        FROM cum JOIN tot ON cum.source = tot.source
       |        WHERE cum * $GateDen >= n_docs
       |        GROUP BY cum.source)
       |SELECT sc.source, MIN(tot.n_docs) AS n_docs, MIN(thr.thr) AS thr,
       |  CAST(SUM(CASE WHEN sc.score >= thr.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM sc JOIN thr ON sc.source = thr.source
       |  JOIN tot ON sc.source = tot.source
       |GROUP BY sc.source ORDER BY sc.source""".stripMargin

  // ---- q150: per-source robust outlier detection (median/MAD) ----

  /** Outlier gate multiplier: |x − med| > [[MadK]]·MAD flags a doc. The
    * classic k ≈ 3σ rule transported to the robust scale estimate. */
  val MadK = 3L

  /** q150: per-source ROBUST outlier detection — median/MAD, the
    * data-cleaning dual of q149's quantile gate: a mean/stddev rule
    * (q48's moments) is itself dragged by the outliers it is meant to
    * find, so corpus QA flags docs by distance from the MEDIAN in units
    * of the MEDIAN absolute deviation (Hampel's rule; |x−med| > 3·MAD).
    * Both statistics are EXACT lower medians (2·cum ≥ n over the value
    * domain — [[domainRankThreshold]] with mult = 2, the machinery
    * q149 introduced, applied twice: once to scores, once to the
    * derived |x − med| deviations), and the flag is pure integer
    * arithmetic — no float, no approximation, so counts hash-match the
    * oracle exactly. A constant source (MAD = 0) flags exactly the
    * docs that deviate at all, the rule's natural degenerate case.
    *
    * Scale: ONE corpus scan — the (source, score) domain is minted and
    * checkpointed once, and the deviation "corpus" the MAD median sees
    * is a DOMAIN-to-domain re-aggregation (|score−med| keyed, counts
    * summed), so both medians, the Hampel counts, and the totals are
    * all Σc arithmetic over KB frames; nothing row-sized ever sorts,
    * windows, or rescans. */
  def q150MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    madOutliersCore(s, Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars".cast("long").as("score")))
  }

  /** q150 body over any (doc_id, source, score) frame. */
  private[graft] def madOutliersCore(s: SparkSession, scored: DataFrame): DataFrame = {
    import s.implicits._
    val dom = scoreDomain(scored).localCheckpoint(false) // KB; 2 consumers
    val med = domainRankThreshold(dom, 2L)
      .select($"source", $"thr".as("med"))
    // deviation domain: |score − med| re-keyed, counts summed — a
    // domain-to-domain fold, never a second corpus pass
    val devDom = dom.join(broadcast(med), "source")
      .groupBy($"source", abs($"score" - $"med").as("score"))
      .agg(sum($"c").as("c"))
      .localCheckpoint(false) // KB; 2 consumers
    val mad = domainRankThreshold(devDom, 2L).select($"source", $"thr".as("mad"))
    devDom.join(broadcast(mad), "source")
      .groupBy($"source")
      .agg(sum($"c").as("n_docs"), first($"mad").as("mad"),
        sum(when($"score" > $"mad" * MadK, $"c").otherwise(0L)).as("n_outliers"))
      .join(broadcast(med), "source")
      .select($"source", $"n_docs", $"med", $"mad", $"n_outliers")
      .orderBy($"source")
  }

  /** Oracle: the exact-rank median CTE applied twice — identical rule
    * text for scores and deviations. */
  private def sqlLowerMedian(in: String, out: String): String =
    s"""${out}_dom AS (SELECT source, score, COUNT(*) AS c FROM $in GROUP BY source, score),
       |${out}_tot AS (SELECT source, SUM(c) AS n FROM ${out}_dom GROUP BY source),
       |${out}_cum AS (SELECT source, score,
       |    SUM(c) OVER (PARTITION BY source ORDER BY score) AS cum
       |  FROM ${out}_dom),
       |$out AS (SELECT c.source, MIN(c.score) AS thr
       |  FROM ${out}_cum c JOIN ${out}_tot t ON c.source = t.source
       |  WHERE c.cum * 2 >= t.n GROUP BY c.source)""".stripMargin

  val q150Sql: String =
    s"""WITH sc AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
       |            FROM documents),
       |${sqlLowerMedian("sc", "med")},
       |dv AS (SELECT sc.doc_id, sc.source, abs(sc.score - med.thr) AS score
       |       FROM sc JOIN med ON sc.source = med.source),
       |${sqlLowerMedian("dv", "mad")}
       |SELECT dv.source, COUNT(*) AS n_docs, MIN(med.thr) AS med,
       |  MIN(mad.thr) AS mad,
       |  CAST(SUM(CASE WHEN dv.score > $MadK * mad.thr THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers
       |FROM dv JOIN mad ON dv.source = mad.source
       |  JOIN med ON dv.source = med.source
       |GROUP BY dv.source ORDER BY dv.source""".stripMargin

  // ---- q158: CCNet-style per-language quality buckets ----

  /** Tercile denominator: the corpus splits into three quality buckets. */
  val CcnetDen = 3L

  /** q158: per-language head/middle/tail quality partitioning — the
    * CCNet recipe (Wenzek et al. 2020: bucket each language's crawl by
    * per-doc quality into terciles; most open corpora train on
    * head+middle and drop or down-weight tail). q149 CUTS a quantile;
    * this PARTITIONS the whole distribution, per language, with BOTH
    * cut points exact: thr_low = smallest score whose cumulative count
    * reaches ⌈n/3⌉, thr_high = the ⌈2n/3⌉ analogue (both
    * cross-multiplied to pure integers — [[CcnetDen]]·cum ≥ q·n), tail
    * = score < thr_low, head = score ≥ thr_high, middle the rest. Tie
    * values at a boundary land in the upper bucket — deterministic,
    * and on a skewed language where the cuts coincide the middle is
    * legitimately empty (boundary semantics fixture-pinned).
    *
    * Scale design is q149's verbatim: the corpus collapses map-side
    * ONCE to the (lang, score, count) domain; both cumulative ranks,
    * both thresholds, and all three bucket counts are Σc arithmetic on
    * that KB frame against |langs|-row broadcasts — the corpus is
    * touched exactly once. */
  def q158CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ccnetBucketsCore(s, Tables.documents(s, dir)
      .select($"lang", $"n_chars".cast("long").as("score")))
  }

  /** q158 body over any (lang, score) frame. */
  private[graft] def ccnetBucketsCore(s: SparkSession, scored: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dom = scored.groupBy($"lang", $"score").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // KB; threshold + census consumers
    val tot = dom.groupBy($"lang").agg(sum($"c").as("n_docs"))
    val cum = dom.withColumn("cum",
      sum($"c").over(Window.partitionBy($"lang").orderBy($"score")))
      .join(tot, "lang")
    def thrAt(q: Long, name: String) = cum
      .where($"cum" * CcnetDen >= $"n_docs" * q)
      .groupBy($"lang").agg(min($"score").as(name))
    dom.join(broadcast(thrAt(1L, "thr_low")), "lang")
      .join(broadcast(thrAt(2L, "thr_high")), "lang")
      .join(broadcast(tot), "lang")
      .groupBy($"lang")
      .agg(first($"n_docs").as("n_docs"),
        first($"thr_low").as("thr_low"), first($"thr_high").as("thr_high"),
        sum(when($"score" < $"thr_low", $"c").otherwise(0L)).as("n_tail"),
        sum(when($"score" >= $"thr_low" && $"score" < $"thr_high", $"c")
          .otherwise(0L)).as("n_middle"),
        sum(when($"score" >= $"thr_high", $"c").otherwise(0L)).as("n_head"))
      .select($"lang", $"n_docs", $"thr_low", $"thr_high",
        $"n_tail", $"n_middle", $"n_head")
      .orderBy($"lang")
  }

  val q158Sql: String =
    s"""WITH sc AS (SELECT lang, CAST(n_chars AS BIGINT) AS score FROM documents),
       |dom AS (SELECT lang, score, COUNT(*) AS c FROM sc GROUP BY lang, score),
       |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs FROM dom GROUP BY lang),
       |cum AS (SELECT dom.lang, dom.score,
       |    SUM(c) OVER (PARTITION BY dom.lang ORDER BY dom.score) AS cum,
       |    t.n_docs
       |  FROM dom JOIN tot t ON dom.lang = t.lang),
       |lo AS (SELECT lang, MIN(score) AS thr_low FROM cum
       |       WHERE cum * $CcnetDen >= n_docs * 1 GROUP BY lang),
       |hi AS (SELECT lang, MIN(score) AS thr_high FROM cum
       |       WHERE cum * $CcnetDen >= n_docs * 2 GROUP BY lang)
       |SELECT sc.lang, MIN(tot.n_docs) AS n_docs,
       |  MIN(lo.thr_low) AS thr_low, MIN(hi.thr_high) AS thr_high,
       |  CAST(SUM(CASE WHEN sc.score < lo.thr_low THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_tail,
       |  CAST(SUM(CASE WHEN sc.score >= lo.thr_low AND sc.score < hi.thr_high
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
       |  CAST(SUM(CASE WHEN sc.score >= hi.thr_high THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_head
       |FROM sc JOIN lo ON sc.lang = lo.lang JOIN hi ON sc.lang = hi.lang
       |  JOIN tot ON sc.lang = tot.lang
       |GROUP BY sc.lang ORDER BY sc.lang""".stripMargin

  // ---- q159: DSIR importance weights (hashed-feature likelihood ratio) ----

  /** Hashed-feature space size: the fixed bucket count DSIR hashes
    * n-gram features into (also the Laplace-smoothing denominator add). */
  val DsirBuckets = 1024L

  /** q159: data-selection importance weights — the DSIR recipe (Xie et
    * al. 2023: estimate importance weights w(x) = p_target(x)/p_raw(x)
    * over HASHED n-gram features, then resample the raw corpus by w).
    * This is the LEARNED counterpart of q107's fixed-weight classifier:
    * the feature weights come from the corpus itself — a target slice
    * (here lang = 'en', the stand-in for "quality reference corpus")
    * versus the full raw distribution — so the gate adapts to whatever
    * the target actually looks like.
    *
    * Engine-exact scoring (q91's quantization pattern): each feature's
    * smoothed ratio ((ct+1)/(nt+B)) / ((cr+1)/(nr+B)) is one double
    * division of two double cross products, each factor cast to double
    * BEFORE multiplying — a BIGINT cross product (ct+1)·(nr+B) would
    * overflow Long past ~3e9 corpus tokens (ADVICE r14); the double
    * form is exact below 2^53 and within 1 ulp above, identical in
    * DuckDB (same IEEE ops in the same order), and invisible after the
    * picounit quantization. Per-doc sums are then exact integer
    * arithmetic and the final mean is two rounded double ops in fixed
    * order. No logs (libm ulp risk — the q91 argument); the mean ratio
    * is threshold-equivalent for the keep decision.
    *
    * Scale: the model is EXACTLY [[DsirBuckets]] rows at any corpus
    * size (the hashing trick's whole point — q70's machinery applied to
    * distribution estimation), built by one token pass and broadcast
    * back for scoring; like q91, two corpus passes total, both
    * map-heavy, nothing vocab- or corpus-sized shuffles. */
  def q159DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dsirCore(s, Tables.documents(s, dir).select($"doc_id", $"lang", $"text"),
      col("lang") === "en")
  }

  /** q159 body over any (doc_id, text, …) frame and target predicate. */
  private[graft] def dsirCore(s: SparkSession, docs: DataFrame,
      isTarget: Column): DataFrame = {
    import s.implicits._
    val B = DsirBuckets
    val occ = docs
      .select($"doc_id", isTarget.as("tgt"), explode(split($"text", " ")).as("tok"))
      .select($"doc_id", $"tgt",
        pmod(graft.queries.DedupQueries.h32($"tok"), lit(B)).as("f"))
    val counts = occ.groupBy($"f").agg(
      sum(when($"tgt", 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tots = counts.agg(sum($"ct").as("nt"), sum($"cr").as("nr"))
    // each factor casts to double BEFORE the multiply: the Long cross
    // product (ct+1)·(nr+B) overflows past ~3e9 corpus tokens (ADVICE
    // r14 medium) — the double product is exact below 2^53 and within
    // 1 ulp above, indistinguishable after the 1e-12 quantization.
    // The picounit weight itself saturates at 1e18 (ratio 1e6 — a tiny
    // target slice against a huge raw corpus can push a pure-target
    // feature's ratio past Long picounit range, where Spark's non-ANSI
    // cast would silently wrap while DuckDB errors; review r15): a
    // saturated feature still dominates any per-doc mean, so the keep
    // decision is unchanged, and both engines compute the identical
    // least/floor chain
    val ratioPico =
      (($"ct" + 1L).cast("double") * ($"nr" + lit(B)).cast("double")) /
        (($"cr" + 1L).cast("double") * ($"nt" + lit(B)).cast("double")) *
        lit(1.0e12) + lit(0.5)
    val model = counts.crossJoin(broadcast(tots))
      .select($"f",
        floor(least(ratioPico, lit(1.0e18))).cast("long").as("qw"))
    // the per-doc sum goes through DECIMAL(38,0): capped qw can reach
    // 1e18 and a long document holds ~1e5 features, so a BIGINT sum
    // could wrap — DuckDB's SUM(BIGINT) widens to HUGEINT on its own,
    // and both wide sums cast to double correctly rounded (review r15)
    val w = round(($"sw".cast("double") / lit(1.0e12)) / $"n_feats", 6)
    occ.join(model, Seq("f")) // B-row model: AQE broadcasts it
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"),
        sum($"qw".cast("decimal(38,0)")).as("sw"))
      .select($"doc_id", $"n_feats", w.as("weight"), (w >= 1.0).as("keep"))
      .orderBy($"doc_id")
  }

  val q159Sql: String =
    s"""WITH toksd AS (SELECT doc_id, lang = 'en' AS tgt,
       |    unnest(string_split(text, ' ')) AS tok FROM documents),
       |occ AS (SELECT doc_id, tgt,
       |    ${graft.queries.DedupQueries.sqlH32("tok")} % $DsirBuckets AS f
       |  FROM toksd),
       |counts AS (SELECT f, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
       |    COUNT(*) AS cr FROM occ GROUP BY f),
       |tots AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts),
       |model AS (SELECT f, CAST(floor(least(
       |    (CAST(ct + 1 AS DOUBLE) * CAST(nr + $DsirBuckets AS DOUBLE))
       |      / (CAST(cr + 1 AS DOUBLE) * CAST(nt + $DsirBuckets AS DOUBLE))
       |      * 1.0e12 + 0.5e0, 1.0e18)) AS BIGINT) AS qw
       |  FROM counts CROSS JOIN tots),
       |sc AS (SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |    round((CAST(SUM(m.qw) AS DOUBLE) / 1.0e12) / COUNT(*), 6) AS weight
       |  FROM occ o JOIN model m USING (f) GROUP BY o.doc_id)
       |SELECT doc_id, n_feats, weight, weight >= 1.0e0 AS keep
       |FROM sc ORDER BY doc_id""".stripMargin

  // ---- q153: continuous-score adaptive gate (GK sketch + exact audit) ----

  /** Sketch accuracy for q153: rank error ≤ n/[[GkGateAcc]]
    * (percentile_approx's Greenwald–Khanna guarantee — q93's parameter,
    * restated here because the bound arithmetic below assumes the
    * percent scale and the accuracy scale coincide at 100). */
  val GkGateAcc = 100

  /** Gate percentile: drop each source's bottom quartile (q149's cut). */
  val GkGateQ = 25

  /** q153: the CONTINUOUS-score form of q149's per-source adaptive gate
    * (VERDICT r12 item 5): q149's exact-rank machinery requires a
    * bounded (source, score) value domain — integer lengths aggregate
    * to a KB frame, but a FLOAT score (here q91's LM quality, ~one
    * distinct value per document) would make the "domain" corpus-sized.
    * The production path is therefore the GK quantile sketch (q93's
    * one-pass partial-aggregated percentile_approx, state O(Acc·log n)
    * per source): thr(source) = sketch-p[[GkGateQ]], keep = score ≥ thr.
    *
    * Audit shape is q93's, per source: the EXACT discrete quantile (the
    * value at 1-based rank ⌈n·q/100⌉) and its keep-count are emitted
    * and hash-checked (q91's score is engine-exact, so both are), while
    * the sketch threshold itself — engine-specific summary internals —
    * never appears: what is checked is its RANK GUARANTEE (`gate_ok`:
    * counting docs ≤/< the sketch threshold lands within n/Acc of the
    * target rank, ±1 discretization slack), asserted TRUE by the
    * oracle. Production drops the exact audit — that is the sketch's
    * point; the gate decision it ships is sketch-thresholded.
    *
    * Scale: scoring is q91's two corpus passes (shared chain); the
    * scored (source, score) frame is checkpointed doc-sized-small
    * (~20 B/row) and the sketch is one map-side-combinable pass over
    * it. The exact audit adds the one source-keyed sort — the price of
    * verification, dropped at production scale (q43/q87/q93
    * precedent). */
  def q153GkGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = lmDocSums(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"source"), Seq("doc_id"))
      .select($"source", lmAvgCol.as("score"))
    gkGateCore(s, scored)
  }

  /** q153 body over any (source, score DOUBLE) frame; `acc` is the
    * sketch accuracy (the divergence fixture lowers it to force
    * sketch ≠ exact while the bound still holds). */
  private[graft] def gkGateCore(s: SparkSession, scoredIn: DataFrame,
      acc: Int = GkGateAcc): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = scoredIn.localCheckpoint(false) // 3 consumers (§9 rule)
    val ap = scored.groupBy($"source")
      .agg(percentile_approx($"score", lit(GkGateQ / 100.0), lit(acc)).as("thr_a"))
      .localCheckpoint(false) // |sources| rows; audit consumer
    val exact = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"score")).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy($"source")))
      .where($"rn" === expr(s"(nn * $GkGateQ + 99) div 100"))
      .groupBy($"source").agg(max($"score").as("p25_exact"))
    scored.join(broadcast(ap), Seq("source"))
      .join(broadcast(exact), Seq("source"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"score" <= $"thr_a", 1L).otherwise(0L)).as("le"),
        sum(when($"score" < $"thr_a", 1L).otherwise(0L)).as("lt"),
        first($"p25_exact").as("p25_exact"),
        sum(when($"score" >= $"p25_exact", 1L).otherwise(0L)).as("n_kept"))
      .select($"source", $"n_docs", $"p25_exact", $"n_kept",
        // rank guarantee |rank(thr) − n·q/100| ≤ n/acc (+1 slack),
        // cross-multiplied by 100·acc to stay in integers; at acc = 100
        // this is exactly q93's bound text
        ($"le" * (100L * acc) >= $"n_docs" * (GkGateQ.toLong * acc) -
          $"n_docs" * 100L - 100L * acc &&
          $"lt" * (100L * acc) <= $"n_docs" * (GkGateQ.toLong * acc) +
            $"n_docs" * 100L + 100L * acc).as("gate_ok"))
      .orderBy($"source")
  }

  /** Oracle: q91's scoring CTEs (single-sourced), the exact discrete
    * per-source quantile and keep-count re-derived, `gate_ok` asserted
    * uniformly TRUE (the q93 verdict pattern). */
  val q153Sql: String =
    s"""WITH $lmScoreCtes,
       |scored AS (
       |  SELECT d.source,
       |    round((CAST(sc.sq AS DOUBLE) / 1.0e12) / sc.n_bigrams, 6) AS score
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |r AS (SELECT source, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY score) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS nn
       |  FROM scored),
       |ex AS (SELECT source, MAX(score) AS p25_exact
       |       FROM r WHERE rn = (nn * $GkGateQ + 99) // 100 GROUP BY source)
       |SELECT r.source, MAX(r.nn) AS n_docs, MIN(ex.p25_exact) AS p25_exact,
       |  CAST(SUM(CASE WHEN r.score >= ex.p25_exact THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  TRUE AS gate_ok
       |FROM r JOIN ex ON r.source = ex.source
       |GROUP BY r.source ORDER BY r.source""".stripMargin

  // ---- q157: streaming adaptive gate's batch dual (prefix calibration) ----

  /** q157: the ORACLE-CHECKED batch dual of
    * [[graft.streaming.GateStream]] (VERDICT r13 item 8 — the q151
    * pattern applied to the curation family): per document, the q149
    * admission decision calibrated on the doc's own source PREFIX —
    * everything with doc_id ≤ its own (arrival order = doc_id, the
    * ingest-sequence contract all streaming faces share). A doc is
    * admitted iff [[GateDen]] · |{prefix: score ≤ mine}| ≥ |prefix|,
    * which is exactly "score ≥ q149's threshold over the seen-so-far
    * distribution" with the doc included in its own calibration.
    * StreamingSpec pins stream ≡ this row for row, transitively
    * hash-checking the stateful face against DuckDB.
    *
    * Scale note, stated honestly: THIS dual is the oracle face — the
    * per-source prefix census is a (source-equi, doc_id ≤) self-join,
    * quadratic in per-source rows; it exists to be SQL-replayable. The
    * production face is the stream, whose state is the score DOMAIN per
    * source (q149's domain argument moved into state) and whose per-doc
    * cost is domain-sized. The batch-calibrated form at corpus scale is
    * q149 itself. */
  def q157GateStreamDual(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gateStreamDualCore(s, Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars".cast("long").as("score")))
  }

  /** q157 body over any (doc_id, source, score) frame. */
  private[graft] def gateStreamDualCore(s: SparkSession, scoredIn: DataFrame): DataFrame = {
    import s.implicits._
    val sc = scoredIn.localCheckpoint(false) // both sides of the prefix join
    val b = sc.select($"source", $"doc_id".as("b_id"), $"score".as("b_score"))
    sc.join(b, Seq("source"))
      .where($"b_id" <= $"doc_id")
      .groupBy($"doc_id", $"source", $"score")
      .agg(count(lit(1)).as("n_seen"),
        sum(when($"b_score" <= $"score", 1L).otherwise(0L)).as("cnt_le"))
      .select($"doc_id", $"source", $"score", $"n_seen",
        (lit(GateDen) * $"cnt_le" >= $"n_seen").as("admit"))
      .orderBy($"doc_id")
  }

  val q157Sql: String =
    s"""WITH sc AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
       |            FROM documents),
       |pre AS (
       |  SELECT a.doc_id, a.source, a.score,
       |    CAST(COUNT(*) AS BIGINT) AS n_seen,
       |    CAST(SUM(CASE WHEN b.score <= a.score THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cnt_le
       |  FROM sc a JOIN sc b ON a.source = b.source AND b.doc_id <= a.doc_id
       |  GROUP BY a.doc_id, a.source, a.score)
       |SELECT doc_id, source, score, n_seen,
       |  ($GateDen * cnt_le >= n_seen) AS admit
       |FROM pre ORDER BY doc_id""".stripMargin

  // ---- q160: GK-state streaming gate's batch audit dual ----

  /** q160: the ORACLE-CHECKED batch dual of
    * [[graft.streaming.GkGateStream]] (VERDICT r14 item 3 — the q157
    * pattern applied to the CONTINUOUS-score gate): the stream face's
    * per-source Greenwald–Khanna sketch fold runs over the batch frame
    * (same code path — flatMapGroupsWithState executes on batch
    * Datasets, one group invocation per source, rows folded in doc_id
    * order), and every emitted threshold is AUDITED against the exact
    * prefix ranks from a q157-style (source-equi, doc_id ≤) self-join.
    *
    * The audit shape is q153's, transported to per-document prefixes:
    * the sketch threshold itself — engine-specific summary internals —
    * never reaches the oracle; what is hash-checked is (a) the exact
    * prefix census (n_seen, cnt_le — DuckDB-reproducible), and (b)
    * `gate_ok`, the sketch's rank GUARANTEE asserted uniformly TRUE:
    * counting prefix scores ≤/< the emitted threshold lands within
    * n_seen/[[graft.streaming.GkGateStream.Acc]] (+1 discretization
    * slack) of the target rank ⌈n_seen·[[graft.streaming.GkGateStream
    * .QuantilePct]]/100⌉, in exact integer cross-multiplied arithmetic.
    *
    * The score is continuous on purpose — mean token length
    * (n_chars / token count, one IEEE double division, bit-identical in
    * DuckDB) — the regime where q149/q157's exact-domain state is
    * corpus-sized and the sketch is the only scalable stream state.
    *
    * Scale note, stated honestly: THIS dual is the oracle face — the
    * prefix census is quadratic in per-source rows; it exists to be
    * SQL-replayable (the q157 honesty note verbatim). The production
    * face is the stream, whose per-source state is O(Acc·log n) sketch
    * tuples and whose per-doc cost is sketch-sized; the corpus-scale
    * batch form is q153. */
  def q160GkGateStreamDual(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gkStreamDualCore(s, Tables.documents(s, dir)
      .select($"doc_id", $"source",
        ($"n_chars".cast("double") / size(split($"text", " ")).cast("double"))
          .as("score")))
  }

  /** q160 body over any (doc_id, source, score DOUBLE) frame. */
  private[graft] def gkStreamDualCore(s: SparkSession,
      scoredIn: DataFrame): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val acc = graft.streaming.GkGateStream.Acc
    val pct = graft.streaming.GkGateStream.QuantilePct
    val sc = scoredIn.localCheckpoint(false) // fold + both prefix sides
    val folded = graft.streaming.GkGateStream.verdicts(sc, ttl = None)
      .toDF().localCheckpoint(false)
    val b = sc.select($"source", $"doc_id".as("b_id"), $"score".as("b_score"))
    val rank = expr(s"(n_seen * $pct + 99) div 100")
    folded.join(b, Seq("source"))
      .where($"b_id" <= $"doc_id")
      .groupBy($"doc_id", $"source", $"score", $"n_seen", $"thr")
      .agg(count(lit(1)).as("n_pre"),
        sum(when($"b_score" <= $"score", 1L).otherwise(0L)).as("cnt_le"),
        sum(when($"b_score" <= $"thr", 1L).otherwise(0L)).as("le_thr"),
        sum(when($"b_score" < $"thr", 1L).otherwise(0L)).as("lt_thr"))
      .select($"doc_id", $"source", $"score", $"n_seen", $"cnt_le",
        // the fold's running count must agree with the exact census,
        // and the threshold's true prefix rank must sit within the GK
        // band: acc·le_thr >= acc·r − n_seen − acc (an instance of thr
        // reaches the target from below) and acc·(lt_thr+1) <= acc·r +
        // n_seen + acc (one does not overshoot it from above)
        ($"n_pre" === $"n_seen" &&
          lit(acc.toLong) * $"le_thr" >=
            lit(acc.toLong) * rank - $"n_seen" - lit(acc.toLong) &&
          lit(acc.toLong) * ($"lt_thr" + 1L) <=
            lit(acc.toLong) * rank + $"n_seen" + lit(acc.toLong)).as("gate_ok"))
      .orderBy($"doc_id")
  }

  val q160Sql: String =
    s"""WITH sc AS (SELECT doc_id, source,
       |    CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS score
       |  FROM documents),
       |pre AS (SELECT a.doc_id, a.source, a.score,
       |    CAST(COUNT(*) AS BIGINT) AS n_seen,
       |    CAST(SUM(CASE WHEN b.score <= a.score THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cnt_le
       |  FROM sc a JOIN sc b ON a.source = b.source AND b.doc_id <= a.doc_id
       |  GROUP BY a.doc_id, a.source, a.score)
       |SELECT doc_id, source, score, n_seen, cnt_le, TRUE AS gate_ok
       |FROM pre ORDER BY doc_id""".stripMargin

  // ---- q169: drift monitor's batch dual (per-source AUC + top-decile lift) ----

  /** q169: the ORACLE-CHECKED batch dual of
    * [[graft.streaming.DriftStream]] (VERDICT r15 item 6 — the
    * monitoring triple's discrimination + calibration face): the
    * stream's per-source margin-domain fold runs over the batch frame
    * (flatMapGroupsWithState on a batch Dataset — one group invocation
    * per source, the q160/q166 anchoring pattern) and its snapshot
    * doubles are hash-checked against DuckDB computing q161's AUC and
    * q165's top-decile lift PER SOURCE from the same single-sourced
    * margin chain. Every count is an exact BIGINT; auc and lift_top are
    * the q161/q165 fixed-order double expressions verbatim, so the
    * doubles are bit-equal, not approximately equal.
    *
    * Scale: the q107 margin chain is one map-only corpus pass; the
    * domain aggregation shuffles (source, margin) pairs with map-side
    * combine; everything after is domain-sized per source. The stream
    * face holds exactly this domain as state. */
  def q169DriftDual(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    graft.streaming.DriftStream.snapshots(
      Tables.documents(s, dir).select($"doc_id", $"source", $"text"),
      ttl = None)
      .toDF()
      .select($"source", $"n_docs", $"n_pos", $"n_neg", $"auc", $"lift_top")
      .orderBy($"source")
  }

  // lazy: this val sits ABOVE ClfBuckets/CalibBins in object init
  // order; eager interpolation would read them as 0
  lazy val q169Sql: String = {
    val bins = CalibBins
    s"""WITH ${clfMarginCtes(s"source, $qualityOkSql AS pos,")},
       |scj AS (SELECT tk.source, m.m, tk.pos FROM tk JOIN m USING (doc_id)),
       |dom AS (
       |  SELECT source, m,
       |    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS q
       |  FROM scj GROUP BY 1, 2),
       |nb AS (
       |  SELECT source, m, p, q,
       |    COALESCE(SUM(q) OVER (PARTITION BY source ORDER BY m
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM dom),
       |a AS (
       |  SELECT source, CAST(SUM(p) AS BIGINT) AS n_pos,
       |    CAST(SUM(q) AS BIGINT) AS n_neg,
       |    SUM(CAST(p AS HUGEINT) * (2 * nb + q)) AS num
       |  FROM nb GROUP BY 1),
       |cum AS (
       |  SELECT source, m, p, q,
       |    SUM(p + q) OVER (PARTITION BY source ORDER BY m
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM dom),
       |tot AS (SELECT source, CAST(SUM(p + q) AS BIGINT) AS nt,
       |    CAST(SUM(p) AS BIGINT) AS pt FROM dom GROUP BY 1),
       |g AS (
       |  SELECT c.source,
       |    CAST(SUM(c.p + c.q) AS BIGINT) AS dn, CAST(SUM(c.p) AS BIGINT) AS dp,
       |    CAST(MAX(t.nt) AS BIGINT) AS nt, CAST(MAX(t.pt) AS BIGINT) AS pt
       |  FROM cum c JOIN tot t USING (source)
       |  WHERE (c.cum * $bins + t.nt - 1) // t.nt = $bins
       |  GROUP BY 1)
       |SELECT a.source, CAST(a.n_pos + a.n_neg AS BIGINT) AS n_docs,
       |  a.n_pos, a.n_neg,
       |  CASE WHEN a.n_pos > 0 AND a.n_neg > 0 THEN
       |    CAST(a.num AS DOUBLE)
       |      / (CAST(a.n_pos AS DOUBLE) * CAST(a.n_neg AS DOUBLE) * 2.0e0)
       |  END AS auc,
       |  CASE WHEN g.pt > 0 AND g.dn > 0 THEN
       |    (CAST(g.dp AS DOUBLE) * CAST(g.nt AS DOUBLE))
       |      / (CAST(g.dn AS DOUBLE) * CAST(g.pt AS DOUBLE))
       |  END AS lift_top
       |FROM a JOIN g ON a.source = g.source
       |ORDER BY a.source""".stripMargin
  }

  // ---- q168: adaptive gate's batch audit dual (exact↔sketch migration) ----

  /** q168: the ORACLE-CHECKED batch dual of
    * [[graft.streaming.AdaptiveGateStream]] (VERDICT r15 item 5 — the
    * unified admission gate): the adaptive fold runs over a TWO-REGIME
    * scored frame — the length-4 sources collapse to one "dense" source
    * whose score is n_chars mod 32 (a 32-value domain: exact state
    * forever), the length-5 sources to one "unique" source whose score
    * is n_chars·1024 + doc_id mod 1024 (effectively unique: the domain
    * tracks the row count and the source migrates to the GK sketch at
    * the density crossover).
    *
    * What is hash-checked, per document: (a) the exact prefix census
    * (n_seen, cnt_le — DuckDB-reproducible); (b) `is_sketch`, the MODE
    * the fold decided under — the crossover is itself SQL-expressible
    * (a prefix-distinct-count window over the same self-join, crossed
    * strictly BEFORE the doc, matching the fold's check-after-verdict
    * order), so DuckDB independently derives where each source
    * migrated; (c) `ok`, asserted uniformly TRUE — exact-mode verdicts
    * must equal the [[GateDen]] rule verbatim, sketch-mode verdicts
    * must be consistent with their emitted threshold AND that
    * threshold's true prefix rank must sit within the GK band (q160's
    * honesty pattern: sketch internals never reach the oracle, their
    * guarantee does).
    *
    * Scale note, stated honestly: THIS dual is the oracle face — the
    * prefix census is quadratic in per-source rows; it exists to be
    * SQL-replayable (q157's note verbatim). The production face is the
    * stream, whose per-source state is min(domain, sketch)-sized by
    * construction. */
  def q168AdaptiveGateDual(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    adaptiveGateDualCore(s, Tables.documents(s, dir).select($"doc_id",
      when(length($"source") === 4, lit("dense"))
        .otherwise(lit("unique")).as("source"),
      when(length($"source") === 4, $"n_chars" % 32L)
        .otherwise($"n_chars" * 1024L + $"doc_id" % 1024L)
        .cast("long").as("score")))
  }

  /** q168 body over any (doc_id, source, score LONG) frame. */
  private[graft] def adaptiveGateDualCore(s: SparkSession,
      scoredIn: DataFrame): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    val acc = graft.streaming.GkGateStream.Acc
    val pct = graft.streaming.GkGateStream.QuantilePct
    val sc = scoredIn.localCheckpoint(false) // fold + both prefix sides
    val folded = graft.streaming.AdaptiveGateStream.verdicts(sc, ttl = None)
      .toDF().localCheckpoint(false)
    val b = sc.select($"source", $"doc_id".as("b_id"), $"score".as("b_score"))
    val rank = expr(s"(n_seen * $pct + 99) div 100")
    folded.join(b, Seq("source"))
      .where($"b_id" <= $"doc_id")
      .groupBy($"doc_id", $"source", $"score", $"n_seen", $"is_sketch",
        $"thr", $"admit")
      .agg(count(lit(1)).as("n_pre"),
        sum(when($"b_score" <= $"score", 1L).otherwise(0L)).as("cnt_le"),
        sum(when($"b_score".cast("double") <= $"thr", 1L).otherwise(0L))
          .as("le_thr"),
        sum(when($"b_score".cast("double") < $"thr", 1L).otherwise(0L))
          .as("lt_thr"))
      .select($"doc_id", $"source", $"score", $"n_seen", $"cnt_le",
        $"is_sketch",
        ($"n_pre" === $"n_seen" &&
          when(!$"is_sketch",
            // exact mode: the decision IS the SQL rule
            $"admit" === (lit(GateDen) * $"cnt_le" >= $"n_seen"))
          .otherwise(
            // sketch mode: decision consistent with the emitted
            // threshold, and the threshold inside the GK rank band
            $"admit" === ($"score".cast("double") >= $"thr") &&
            lit(acc.toLong) * $"le_thr" >=
              lit(acc.toLong) * rank - $"n_seen" - lit(acc.toLong) &&
            lit(acc.toLong) * ($"lt_thr" + 1L) <=
              lit(acc.toLong) * rank + $"n_seen" + lit(acc.toLong)))
          .as("ok"))
      .orderBy($"doc_id")
  }

  val q168Sql: String = {
    val den = graft.streaming.AdaptiveGateStream.DensityDen
    val minN = graft.streaming.AdaptiveGateStream.MinN
    s"""WITH sc AS (SELECT doc_id,
       |    CASE WHEN length(source) = 4 THEN 'dense' ELSE 'unique' END
       |      AS source,
       |    CAST(CASE WHEN length(source) = 4 THEN n_chars % 32
       |      ELSE n_chars * 1024 + doc_id % 1024 END AS BIGINT) AS score
       |  FROM documents),
       |pre AS (SELECT a.doc_id, a.source, a.score,
       |    CAST(COUNT(*) AS BIGINT) AS n_seen,
       |    CAST(SUM(CASE WHEN b.score <= a.score THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cnt_le,
       |    CAST(COUNT(DISTINCT b.score) AS BIGINT) AS d_pre
       |  FROM sc a JOIN sc b ON a.source = b.source AND b.doc_id <= a.doc_id
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, source, score, n_seen, cnt_le,
       |  COALESCE(MAX(CASE WHEN d_pre * $den > n_seen AND n_seen >= $minN
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
       |    AS is_sketch,
       |  TRUE AS ok
       |FROM pre ORDER BY doc_id""".stripMargin
  }

  // ---- q85: temperature-balanced corpus mixing ----

  /** Integer quantization factor for the per-language weights:
    * w_l = floor(sqrt(n_l) · 10⁴). Four decimal digits of the square
    * root survive the floor, so quantization error is ≤ 10⁻⁴ relative —
    * invisible next to the sampling noise — while keeping the keep test
    * in exact integer arithmetic (see [[q85TemperatureMix]]). */
  val MixScale = 10000L

  /** Target sample size as a fraction of the corpus: ½. */
  private val MixTargetDiv = 2

  /** q85: temperature-balanced mixture sampling — draw a ~half-corpus
    * sample whose language composition follows p_l ∝ n_l^α with
    * temperature exponent α = 1/2, the rebalancing every multilingual
    * training corpus applies so high-resource languages don't drown the
    * tail (α=1 is proportional/no boost, α=0 is uniform; 0.5 sits
    * between, boosting low-resource languages). A document
    * is kept iff `h32(doc_id) / 2³²  <  n_target·w_l / (Σw·n_l)` — the
    * same content-addressed coin as the q56 split (stable under corpus
    * growth, no PRNG, no global sort), with the min(1,·) cap implicit
    * (a rate ≥ 1 makes the right side exceed every 32-bit hash).
    *
    * Engine-exact determinism, including of the per-document keep
    * decision: weights are quantized to integers (`floor(sqrt(n)·10⁴)` —
    * sqrt and the product are single correctly-rounded IEEE ops, so both
    * engines floor the same double), and the keep test is cross-
    * multiplied into pure INTEGER arithmetic — `h·Σw·n_l <
    * n_target·w_l·2³²` over DECIMAL(38,0)/HUGEINT — so there is no
    * division and no float rounding anywhere in the decision.
    *
    * Scale: two corpus passes, both map-only into partial-aggregated
    * counts (pass 1: per-language counts, languages×1 rows; pass 2: the
    * keep filter + per-language sample counts). The language stats and
    * corpus totals join back as a broadcast of |languages| rows. No
    * corpus-sized shuffle at any point. */
  def q85TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"lang")
    // |langs|-sized, three consumers (totals, the broadcast stats, the
    // final join): checkpointed so pass 1 over the corpus runs ONCE —
    // plan-branch reuse does not dedupe re-analyzed branches (§9 note)
    val perLang = docs.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt($"n_docs".cast("double")) * lit(MixScale.toDouble)).cast("long"))
      .localCheckpoint(false)
    val totals = perLang.agg(sum($"n_docs").as("n_corpus"), sum($"w").as("sw"))
      .select(expr(s"n_corpus div $MixTargetDiv").as("n_target"), $"sw")
    val stats = broadcast(perLang.crossJoin(broadcast(totals)))
    val dec = "decimal(38,0)"
    val h = graft.functions.Md5Prefix64($"doc_id".cast("string").cast("binary"), 8)
    val kept = docs.join(stats, Seq("lang"))
      .where(h.cast(dec) * $"sw".cast(dec) * $"n_docs".cast(dec) <
        $"n_target".cast(dec) * $"w".cast(dec) * lit(4294967296L).cast(dec))
      .groupBy($"lang").agg(count(lit(1)).as("n_sampled"))
    perLang.join(kept, Seq("lang"), "left")
      .select($"lang", $"n_docs", $"w",
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        round(coalesce($"n_sampled", lit(0L)).cast("double") / $"n_docs", 6).as("rate6"))
      .orderBy($"lang")
  }

  val q85Sql: String = {
    val h = DedupQueries.sqlH32("CAST(d.doc_id AS VARCHAR)")
    s"""WITH pl AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * $MixScale.0) AS BIGINT) AS w
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(SUM(n_docs) // $MixTargetDiv AS BIGINT) AS n_target,
       |               CAST(SUM(w) AS BIGINT) AS sw FROM pl),
       |inc AS (
       |  SELECT d.lang FROM documents d JOIN pl USING (lang) CROSS JOIN tot
       |  WHERE CAST($h AS HUGEINT) * sw * pl.n_docs
       |      < CAST(n_target AS HUGEINT) * pl.w * 4294967296),
       |ks AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled FROM inc GROUP BY lang)
       |SELECT pl.lang, pl.n_docs, pl.w,
       |  COALESCE(ks.n_sampled, 0) AS n_sampled,
       |  round(CAST(COALESCE(ks.n_sampled, 0) AS DOUBLE) / pl.n_docs, 6) AS rate6
       |FROM pl LEFT JOIN ks USING (lang)
       |ORDER BY pl.lang""".stripMargin
  }

  // ---- q97: sliding-window document chunking with overlap ----

  /** Tokens per chunk. */
  val ChunkSize = 32

  /** Token stride between consecutive chunk starts; ChunkSize −
    * ChunkStride = 8 tokens of overlap carry context across boundaries. */
  val ChunkStride = 24

  /** q97: overlapping sliding-window chunking — split each document into
    * [[ChunkSize]]-token chunks whose starts step by [[ChunkStride]]
    * (8-token overlap), the structural prep every retrieval/embedding
    * pipeline runs before encoding (context-window-sized units, overlap
    * so no boundary-spanning fact is lost). Emits (doc, chunk ordinal,
    * 1-based start token, chunk text, token count); chunk starts stop at
    * the FIRST window that reaches the final token — the start lattice
    * is bounded by n − (size − stride), so the last chunk always covers
    * the tail and no chunk is wholly contained in its predecessor (a
    * naive s ≤ n bound emits a pure-duplicate trailing chunk whenever
    * the tail is shorter than the overlap). Both properties spec-pinned.
    *
    * Scale: map-only — one bind-bound HOF mints all chunk structs per
    * row, posexplode flattens; no shuffle before the final presentation
    * sort. Chunk ordinal and geometry are pure arithmetic on the start
    * position, so the oracle reproduces rows exactly. */
  def q97ChunkOverlap(s: SparkSession, dir: String): DataFrame =
    chunkCore(s, Tables.documents(s, dir))

  /** q97 body over an arbitrary documents frame (docs/SCALE.md measures it
    * on replicated corpora). */
  private[graft] def chunkCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val chunksCol = graft.functions.Cols.bind(toks($"text")) { t =>
      transform(
        sequence(lit(1),
          greatest(lit(1), size(t) - (ChunkSize - ChunkStride)), lit(ChunkStride)),
        st =>
          struct(st.as("start"),
            concat_ws(" ", slice(t, st, lit(ChunkSize))).as("chunk"),
            least(lit(ChunkSize), size(t) - st + 1).cast("long").as("n")))
    }
    docs
      .select($"doc_id", posexplode(chunksCol).as(Seq("ci", "c")))
      .select($"doc_id", ($"ci" + 1).cast("long").as("chunk_idx"),
        $"c.start".cast("long").as("start_tok"),
        $"c.chunk".as("chunk_text"), $"c.n".as("n_tokens"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val q97Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |st AS (SELECT doc_id, tk,
       |         unnest(generate_series(1,
       |           greatest(1, len(tk) - ${ChunkSize - ChunkStride}),
       |           $ChunkStride)) AS start_tok
       |       FROM t)
       |SELECT doc_id,
       |  CAST((start_tok - 1) // $ChunkStride + 1 AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  array_to_string(tk[start_tok : least(start_tok + ${ChunkSize - 1}, len(tk))], ' ') AS chunk_text,
       |  CAST(least($ChunkSize, len(tk) - start_tok + 1) AS BIGINT) AS n_tokens
       |FROM st
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- q98: encoding-quality (mojibake) filter ----

  /** Max control characters per 1000 characters before a document is
    * dropped (Dolma's control-char rule; integer-ratio form). */
  val CtrlPerMille = 1

  /** q98: encoding-quality gate — the C4 rule "drop any page containing
    * the Unicode replacement character" (U+FFFD marks a failed decode
    * upstream) plus Dolma's control-character ratio cap. Distinct from
    * q21's LINGUISTIC quality (stopwords/punctuation): this catches
    * transport-level damage — wrong charset, truncated multi-byte
    * sequences, binary spill — that reads as gibberish bytes, not as
    * bad prose.
    *
    * Counts are computed as length(text) − length(regexp_replace(text,
    * class, '')) — pure character arithmetic both engines share (Spark
    * `length` and DuckDB `length` both count CODE POINTS, and both
    * regexp_replace calls are replace-all), and the keep decision is
    * integer (n_ctrl·1000 ≤ n_chars·[[CtrlPerMille]]), so every row
    * hash-matches. Map-only, zero shuffles before the presentation
    * sort. */
  private def nReplCol: Column = (length(col("text")) -
    length(regexp_replace(col("text"), "�", ""))).cast("long")
  private def nCtrlCol: Column = (length(col("text")) -
    length(regexp_replace(col("text"), "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")))
    .cast("long")

  /** The q98 boolean encoding gate as a standalone column (q100 composes
    * it without the count outputs). */
  private[graft] def encodingOkCol: Column =
    nReplCol === 0L && nCtrlCol * 1000L <= length(col("text")).cast("long") * CtrlPerMille

  /** SQL dual of [[encodingOkCol]]. */
  private[graft] def encodingOkSql: String =
    s"""((length(text) - length(regexp_replace(text, chr(65533), '', 'g'))) = 0
       | AND (length(text) - length(regexp_replace(text,
       |   '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) || chr(14) || '-' || chr(31) || ']',
       |   '', 'g'))) * 1000 <= length(text) * $CtrlPerMille)""".stripMargin.replace("\n", " ")

  def q98EncodingFilter(s: SparkSession, dir: String): DataFrame =
    encodingCore(s, Tables.documents(s, dir))

  /** q98 body over an arbitrary documents frame (docs/SCALE.md measures it
    * on replicated corpora). */
  private[graft] def encodingCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val nChars = length($"text").cast("long")
    docs
      .select($"doc_id", nChars.as("n_chars"), nReplCol.as("n_repl"),
        nCtrlCol.as("n_ctrl"))
      .withColumn("keep",
        $"n_repl" === 0L && $"n_ctrl" * 1000L <= $"n_chars" * CtrlPerMille)
      .orderBy($"doc_id")
  }

  val q98Sql: String =
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(length(text) - length(regexp_replace(text, chr(65533), '', 'g')) AS BIGINT) AS n_repl,
       |  CAST(length(text) - length(regexp_replace(text,
       |    '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) || chr(14) || '-' || chr(31) || ']',
       |    '', 'g')) AS BIGINT) AS n_ctrl,
       |  (length(text) - length(regexp_replace(text, chr(65533), '', 'g'))) = 0
       |    AND (length(text) - length(regexp_replace(text,
       |      '[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) || chr(14) || '-' || chr(31) || ']',
       |      '', 'g'))) * 1000 <= length(text) * $CtrlPerMille AS keep
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q103: Gopher symbol / alpha-word character-class gate ----

  /** q103: the Gopher character-class rules (Rae et al. 2021, table A1)
    * that q21 (linguistic) and q98 (transport damage) don't cover —
    * fires on machine-generated and scraped-markup junk: ≥ 80% of words
    * must contain at least one alphabetic character, digits must be
    * ≤ 20% of characters, and `#` / `...` symbols must be ≤ 10% of the
    * word count. Every signal is an integer count (word filter via a
    * codegen'd HOF + rlike; character counts via length-minus-replaced,
    * the q98 arithmetic; `...` occurrences by plain non-overlapping
    * replace, identical left-to-right in both engines) and the keep
    * decision is pure integer cross-multiplication — no float anywhere,
    * so every row hash-matches. Map-only, zero shuffles before the
    * presentation sort. */
  def q103SymbolFilter(s: SparkSession, dir: String): DataFrame =
    symbolFilterCore(s, Tables.documents(s, dir))

  /** q103 body over an arbitrary documents frame. */
  private[graft] def symbolFilterCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    docs
      .select($"doc_id",
        size(t).cast("long").as("n_words"),
        size(filter(t, w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha_words"),
        length($"text").cast("long").as("n_chars"),
        (length($"text") - length(regexp_replace($"text", "[0-9]", "")))
          .cast("long").as("n_digit"),
        (length($"text") - length(expr("replace(text, '#', '')")))
          .cast("long").as("n_hash"),
        ((length($"text") - length(expr("replace(text, '...', '')"))) / 3)
          .cast("long").as("n_ellipsis"))
      .withColumn("keep",
        $"n_alpha_words" * 10L >= $"n_words" * 8L &&
          $"n_digit" * 5L <= $"n_chars" &&
          ($"n_hash" + $"n_ellipsis") * 10L <= $"n_words")
      .orderBy($"doc_id")
  }

  val q103Sql: String =
    """SELECT doc_id, n_words, n_alpha_words, n_chars, n_digit, n_hash, n_ellipsis,
      |  (n_alpha_words * 10 >= n_words * 8 AND n_digit * 5 <= n_chars
      |   AND (n_hash + n_ellipsis) * 10 <= n_words) AS keep
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
      |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---- q105: span-corruption prep (T5/UL2 denoising objective) ----

  /** Tokens per masking block. */
  val MaskBlock = 8

  /** A block is selected for masking iff h32("doc:block") mod this == 0
    * (≈25% of blocks → ~9% of tokens masked, between T5's 15% and UL2's
    * sparse variants). */
  val MaskMod = 4

  /** q105: span-corruption pair generation — the corpus-prep step of a
    * T5/UL2-style denoising objective: deterministic ~3-token spans are
    * replaced by `<extra_id_B>` sentinels in the INPUT, and the TARGET
    * is the sentinel-prefixed concatenation of the masked spans. Span
    * selection is content-addressed (md5 of doc:block, the q56/q85 coin
    * — no PRNG, stable under corpus growth), one span per selected
    * [[MaskBlock]]-token block at fixed in-block offsets 4..6 (1-based),
    * so selected spans are never adjacent and need no T5 span-merge
    * pass. A trailing partial block is selectable only if its span
    * start exists; span length truncates at the document end. Sentinels
    * carry the block index (deterministic, join-free) rather than a
    * sequential rank — an id the DECODE side can invert without state.
    *
    * Scale: map-only — one bound token array per row, all span
    * decisions and both output strings minted by HOF chains; no
    * shuffle before the presentation sort. */
  def q105SpanCorruption(s: SparkSession, dir: String): DataFrame =
    spanCorruptionCore(s, Tables.documents(s, dir))

  /** q105 body over an arbitrary documents frame. */
  private[graft] def spanCorruptionCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val B = MaskBlock
    // block b (0-based) is selected iff the hash coin hits AND its span
    // start (1-based position b*B+4) exists in the document
    def sel(b: Column, n: Column): Column =
      DedupQueries.h32(concat(col("doc_id").cast("string"), lit(":"), b.cast("string"))) %
        MaskMod === 0 && b * B + 4 <= n
    def sentinel(b: Column): Column =
      concat(lit("<extra_id_"), b.cast("string"), lit(">"))
    val core = graft.functions.Cols.bind(toks($"text")) { t =>
      val n = size(t)
      val nBlocks = ((n + (B - 1)) / B).cast("int")
      val inputStructs = transform(sequence(lit(1), n), p => {
        val b = ((p - 1) / B).cast("int")
        val o = (p - 1) % B
        struct(
          when(sel(b, n) && o === 3, sentinel(b))
            .otherwise(element_at(t, p)).as("tok"),
          (!(sel(b, n) && (o === 4 || o === 5))).as("keep"))
      })
      val inputToks = transform(filter(inputStructs, st => st("keep")), st => st("tok"))
      val targetArrs = transform(sequence(lit(0), nBlocks - 1), b =>
        when(sel(b, n),
          concat(array(sentinel(b)),
            slice(t, b * B + 4, least(lit(3), n - (b * B + 3)))))
          .otherwise(array().cast("array<string>")))
      val nSpans = size(filter(sequence(lit(0), nBlocks - 1), b => sel(b, n)))
      struct(
        nSpans.cast("long").as("n_spans"),
        concat_ws(" ", inputToks).as("input_text"),
        concat_ws(" ", flatten(targetArrs)).as("target_text"))
    }
    docs
      .select($"doc_id", core.as("c"))
      .select($"doc_id", $"c.n_spans".as("n_spans"),
        $"c.input_text".as("input_text"), $"c.target_text".as("target_text"))
      .orderBy($"doc_id")
  }

  lazy val q105Sql: String = {
    val B = MaskBlock
    val h = DedupQueries.sqlH32("CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
    val selB = s"($h % $MaskMod = 0 AND b * $B + 4 <= len(tk))"
    val hP = DedupQueries.sqlH32(
      s"CAST(doc_id AS VARCHAR) || ':' || CAST((p - 1) // $B AS VARCHAR)")
    val selP = s"($hP % $MaskMod = 0 AND ((p - 1) // $B) * $B + 4 <= len(tk))"
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |toks AS (
       |  SELECT doc_id, tk,
       |    list_transform(generate_series(1, len(tk)), p ->
       |      CASE WHEN $selP AND (p - 1) % $B = 3
       |           THEN '<extra_id_' || CAST((p - 1) // $B AS VARCHAR) || '>'
       |           WHEN $selP AND (p - 1) % $B IN (4, 5) THEN NULL
       |           ELSE tk[p] END) AS itoks
       |  FROM t),
       |tgt AS (
       |  SELECT doc_id, tk,
       |    flatten(list_transform(generate_series(0, (len(tk) + ${B - 1}) // $B - 1), b ->
       |      CASE WHEN $selB
       |           THEN ['<extra_id_' || CAST(b AS VARCHAR) || '>'] ||
       |                tk[b * $B + 4 : b * $B + 3 + least(3, len(tk) - (b * $B + 3))]
       |           ELSE [] END)) AS ttoks,
       |    len(list_filter(generate_series(0, (len(tk) + ${B - 1}) // $B - 1),
       |      b -> $selB)) AS n_spans
       |  FROM t)
       |SELECT toks.doc_id, CAST(tgt.n_spans AS BIGINT) AS n_spans,
       |  array_to_string(list_filter(toks.itoks, x -> x IS NOT NULL), ' ') AS input_text,
       |  -- array_to_string([]) is NULL in DuckDB; Spark's concat_ws is ''
       |  COALESCE(array_to_string(tgt.ttoks, ' '), '') AS target_text
       |FROM toks JOIN tgt ON toks.doc_id = tgt.doc_id
       |ORDER BY toks.doc_id""".stripMargin
  }

  // ---- q107: hashed linear quality classifier (fastText-style) ----

  /** Classifier feature space: unigrams + bigrams hashed into this many
    * buckets (fastText's `-bucket`; 4096 keeps the weight table
    * broadcast-trivial while exercising real collision behavior). */
  val ClfBuckets = 4096L

  /** q107: hashed linear document classifier — the fastText-shaped
    * quality scorer used by CCNet/LLaMA-style pipelines to keep
    * "Wikipedia-like" pages: every unigram and bigram is hashed into
    * [[ClfBuckets]] buckets, each bucket has a weight, and the document's
    * margin is the sum of its occurrences' weights (keep ⇔ margin > 0).
    * Weights here are a deterministic integer surrogate for a trained
    * model (Knuth-multiplicative spread into [-500, 500]) so the oracle
    * can reproduce them exactly; swapping in trained weights changes one
    * expression and nothing in the plan.
    *
    * Scale: scoring is PER-ROW and map-only — the feature array is bound
    * once, hashing+weighting run inside one `aggregate` HOF, and no
    * (doc, feature) row is ever materialized or shuffled. In fastText
    * terms the weight "lookup" is pure arithmetic, so there is no
    * broadcast table at all; with trained weights the bucket→weight map
    * becomes one broadcast array lookup, still map-only. The exact
    * integer margin makes the keep decision engine-portable with no
    * float threshold ambiguity (sigmoid is monotone — thresholding the
    * margin IS thresholding the probability). */
  def q107QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    classifierCore(s, Tables.documents(s, dir)).orderBy($"doc_id")
  }

  /** Unigram + bigram feature array over `text` — the shared hashed-
    * feature space of the q107 classifier and the q112 DSIR scorer. */
  private[graft] def clfFeatures: Column =
    graft.functions.Cols.bind(toks(col("text"))) { t =>
      concat(t,
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1), i =>
            concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
          .otherwise(array().cast("array<string>")))
    }

  /** Hashed-bucket fixed weight of one feature — q107's scorer, shared
    * with the q161/q162 evaluation audits so the score definition cannot
    * drift. */
  private def clfWeight(f: Column): Column = {
    val bucket = pmod(DedupQueries.h32(f), lit(ClfBuckets))
    (bucket * lit(2654435761L)) % 1001L - 500L
  }

  /** The q107 margin as ONE map-only column over `text` (features
    * materialized once per row via [[graft.functions.Cols.bind]]). */
  private[graft] def clfMarginCol: Column =
    graft.functions.Cols.bind(clfFeatures) { fs =>
      aggregate(fs, lit(0L), (acc, f) => acc + clfWeight(f))
    }

  /** q107 body over an arbitrary documents frame (docs/SCALE.md measures it
    * on replicated corpora). */
  private[graft] def classifierCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select($"doc_id", clfFeatures.as("feats"))
      .select($"doc_id",
        size($"feats").cast("long").as("n_feats"),
        aggregate($"feats", lit(0L), (acc, f) => acc + clfWeight(f)).as("margin"))
      .select($"doc_id", $"n_feats", $"margin",
        ($"margin".cast("double") / $"n_feats".cast("double")).as("avg_w"),
        ($"margin" > 0).as("keep"))
  }

  // the tk/f/w chain comes from clfMarginCtes so the scorer text exists
  // ONCE across q107 and the q161/q162/q165/q166 audits (review r15);
  // the final aggregate is q107's own (it also needs n_feats, so the
  // shared m CTE goes unused here — DuckDB permits that)
  val q107Sql: String =
    s"""WITH ${clfMarginCtes("")}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |  CAST(SUM(w) AS BIGINT) AS margin,
       |  CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_w,
       |  SUM(w) > 0 AS keep
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q161: classifier AUC audit (exact Mann–Whitney, tie-corrected) ----

  /** q161: threshold-free evaluation of the q107 quality classifier —
    * the AUC of its margin against the q21 rule gate as reference label,
    * per language and overall. Every pipeline that ships a learned
    * quality filter (fastText-style classifiers in CCNet/RefinedWeb/
    * FineWeb lineages) audits it against a rule-based gold standard;
    * AUC is the canonical threshold-free metric, and the Mann–Whitney
    * identity makes it EXACT integer arithmetic — no ROC sampling, no
    * trapezoid floats.
    *
    * Arithmetic: AUC = U / (P·N) with U = #(pos-score > neg-score
    * pairs) + ½·#(ties). Over the (lang, margin) count DOMAIN —
    * p(m) positives and q(m) negatives at each distinct margin —
    * 2U = Σ_m p(m)·(2·negBelow(m) + q(m)), an exact integer (summed in
    * DECIMAL(38,0); DuckDB widens to HUGEINT on its own), and the one
    * division 2U / (2·P·N) happens in correctly-rounded doubles at the
    * very end (q159's convention: each factor cast to double BEFORE the
    * multiply, so nothing wraps at 100 TB where P·N exceeds Long).
    * Degenerate groups (P=0 or N=0) emit NULL — AUC is undefined there,
    * and the NULL is pinned rather than papered over.
    *
    * Measured (sf0.01): overall AUC 0.333 — the audit DETECTS that
    * q107's fixed hash weights are anti-correlated with the rule gate
    * (worse than chance), which is exactly what this query exists to
    * surface; q159's corpus-learned DSIR weights are the remedy.
    *
    * Scale: scoring + labeling is one map-only corpus pass ([[
    * clfMarginCol]] / [[qualityOkCol]]); the only corpus-sized shuffle
    * is the (lang, margin) domain aggregation (map-side combined,
    * margin-uniform); the overall '*' row re-aggregates the PER-LANG
    * domain — no second corpus pass. The per-lang prefix window runs
    * over domain rows (≤ distinct margins), the honest caveat being
    * that a near-unique continuous score makes the domain row-sized —
    * q153's GK regime, where a sketched AUC would replace this exact
    * form. */
  def q161ClfAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    aucCore(s, Tables.documents(s, dir)
      .select($"lang", clfMarginCol.as("m"), qualityOkCol.as("pos")))
  }

  /** q161 body over any (lang, m: long score, pos: boolean) frame —
    * spec fixtures drive hand-computed AUCs through it. */
  private[graft] def aucCore(s: SparkSession, sc: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // the domain frame is checkpointed so the per-lang and '*' branches
    // both scan it — without this the union's second branch re-runs the
    // whole corpus scoring pass (verified in the physical plan)
    val dom = sc.groupBy($"lang", $"m").agg(
      sum(when($"pos", 1L).otherwise(0L)).as("p"),
      sum(when($"pos", 0L).otherwise(1L)).as("q"))
      .localCheckpoint(true)
    val domAll = dom.groupBy($"m")
      .agg(sum($"p").as("p"), sum($"q").as("q"))
      .select(lit("*").as("lang"), $"m", $"p", $"q")
    def auc(d: DataFrame): DataFrame = {
      val w = Window.partitionBy($"lang").orderBy($"m")
        .rowsBetween(Window.unboundedPreceding, -1)
      d.withColumn("nb", coalesce(sum($"q").over(w), lit(0L)))
        .groupBy($"lang")
        .agg(sum($"p").as("n_pos"), sum($"q").as("n_neg"),
          count(lit(1)).as("n_scores"),
          sum(($"p".cast("decimal(19,0)") *
            ($"nb" * 2L + $"q").cast("decimal(19,0)")).cast("decimal(38,0)"))
            .as("num"))
        .select($"lang", $"n_pos", $"n_neg", $"n_scores",
          when($"n_pos" > 0L && $"n_neg" > 0L,
            $"num".cast("double") /
              ($"n_pos".cast("double") * $"n_neg".cast("double") * lit(2.0)))
            .as("auc"))
    }
    auc(dom).unionByName(auc(domAll)).orderBy($"lang")
  }

  /** The q107 margin chain as oracle CTEs — tk(doc_id, <extra>, t) → f
    * → w → m(doc_id, m = SUM(w)) — with `extra` columns riding tk for
    * later joins. Shared by q161/q162/q165 (single-sourcing rule). */
  private def clfMarginCtes(extra: String): String =
    s"""tk AS (SELECT doc_id, $extra
       |    string_split(text, ' ') AS t FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    unnest(t || list_transform(generate_series(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1])) AS f
       |  FROM tk),
       |w AS (
       |  SELECT doc_id,
       |    ((${DedupQueries.sqlH32("f")}) % $ClfBuckets * 2654435761) % 1001 - 500 AS w
       |  FROM f),
       |m AS (SELECT doc_id, SUM(w) AS m FROM w GROUP BY doc_id)""".stripMargin

  val q161Sql: String =
    s"""WITH ${clfMarginCtes(s"lang, $qualityOkSql AS pos,")},
       |scj AS (SELECT tk.lang, m.m, tk.pos FROM tk JOIN m USING (doc_id)),
       |dom AS (
       |  SELECT lang, m,
       |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS p,
       |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS q
       |  FROM scj GROUP BY 1, 2),
       |u AS (
       |  SELECT lang, m, p, q FROM dom
       |  UNION ALL
       |  SELECT '*' AS lang, m, SUM(p) AS p, SUM(q) AS q FROM dom GROUP BY 2),
       |nb AS (
       |  SELECT lang, m, p, q,
       |    COALESCE(SUM(q) OVER (PARTITION BY lang ORDER BY m
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
       |  FROM u),
       |a AS (
       |  SELECT lang, CAST(SUM(p) AS BIGINT) AS n_pos,
       |    CAST(SUM(q) AS BIGINT) AS n_neg,
       |    CAST(COUNT(*) AS BIGINT) AS n_scores,
       |    SUM(CAST(p AS HUGEINT) * (2 * nb + q)) AS num
       |  FROM nb GROUP BY 1)
       |SELECT lang, n_pos, n_neg, n_scores,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    CAST(num AS DOUBLE)
       |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) * 2.0e0)
       |  END AS auc
       |FROM a ORDER BY lang""".stripMargin

  // ---- q162: filter-agreement audit (Cohen's kappa) ----

  /** q162: chance-corrected agreement between the three independent
    * quality gates — the q21 rule gate, the q107 hashed classifier, and
    * the q91 LM fluency gate — as pairwise confusion matrices + Cohen's
    * kappa. Stacked filters with HIGH kappa are redundant (the cheaper
    * one suffices); near-zero kappa means they remove DIFFERENT
    * documents and the pipeline needs both — the audit behind every
    * "do we still need this filter" decision.
    *
    * Arithmetic: the confusion counts are exact integers from one
    * aggregate; po and kappa are then fixed-order double expressions of
    * those counts (each factor cast to double BEFORE multiplying —
    * q159's overflow convention, exact below 2^53), identical in
    * DuckDB, so the doubles hash-match. A constant rater yields the
    * well-defined kappa = 0 unless BOTH raters are the same constant
    * (pe = 1), where kappa is undefined and NULL is emitted.
    *
    * Scale: the rule + classifier raters are one map-only corpus pass;
    * the LM rater reuses q91's scoring chain ([[lmDocSums]],
    * single-sourced so the gates cannot drift) — that chain re-scans
    * the corpus per consumer rather than materializing the token frame,
    * which is the MEASURED right trade here (an eager occurrence
    * checkpoint made q91 2.5× slower at sf0.1: tokenization is codegen'd
    * scan-speed work, the materialization is not); at 100 TB the
    * persisted-tokenization answer is the OccIngest family, not an
    * in-plan cache. The pair explosion is 3 rows/doc into ONE
    * map-side-combined aggregate whose output is 3 rows. */
  def q162GateAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"doc_id", qualityOkCol.as("rule"), (clfMarginCol > 0L).as("clf"))
    val lm = lmDocSums(s, dir)
      .select($"doc_id", (lmAvgCol >= LmKeepMin).as("lm"))
    // left join: a doc too short to have bigrams has no LM score — the
    // fluency gate cannot vouch for it, so it is NOT kept (false)
    val r = base.join(lm, Seq("doc_id"), "left")
      .select($"rule", $"clf", coalesce($"lm", lit(false)).as("lm"))
    agreementCore(s, r)
  }

  /** Append (po, kappa) to a confusion frame carrying n11/n10/n01/n00 —
    * the fixed-order double formulas shared by q162, q166, and (as the
    * identical Scala arithmetic) the AgreementStream fold. */
  private[graft] def withKappa(cm: DataFrame, key: Column): DataFrame = {
    val n = (col("n11") + col("n10") + col("n01") + col("n00")).cast("double")
    val agree = (col("n11") + col("n00")).cast("double")
    val pe = (col("n11") + col("n10")).cast("double") *
      (col("n11") + col("n01")).cast("double") +
      (col("n01") + col("n00")).cast("double") *
        (col("n10") + col("n00")).cast("double")
    cm.select(key, col("n11"), col("n10"), col("n01"), col("n00"),
      (agree / n).as("po"),
      when(n * n =!= pe, (n * agree - pe) / (n * n - pe)).as("kappa"))
      .orderBy(key)
  }

  /** q162 body over any (rule, clf, lm) boolean-rater frame — spec
    * fixtures drive hand-computed kappas through it. */
  private[graft] def agreementCore(s: SparkSession, r: DataFrame): DataFrame = {
    import s.implicits._
    val pairs = Seq(
      ("clf_vs_lm", $"clf", $"lm"),
      ("rule_vs_clf", $"rule", $"clf"),
      ("rule_vs_lm", $"rule", $"lm"))
    val ex = r.select(explode(array(pairs.map { case (nm, a, b) =>
      struct(lit(nm).as("pair"), a.as("a"), b.as("b")) }: _*)).as("x"))
      .select($"x.pair".as("pair"), $"x.a".as("a"), $"x.b".as("b"))
    val cm = ex.groupBy($"pair").agg(
      sum(when($"a" && $"b", 1L).otherwise(0L)).as("n11"),
      sum(when($"a" && !$"b", 1L).otherwise(0L)).as("n10"),
      sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("n01"),
      sum(when(!$"a" && !$"b", 1L).otherwise(0L)).as("n00"))
    withKappa(cm, $"pair")
  }

  /** SQL duals of [[withKappa]]'s po/kappa expressions over a CTE
    * exposing n11/n10/n01/n00 — shared by q162 and q166. */
  private val kappaSqlN = "CAST(n11 + n10 + n01 + n00 AS DOUBLE)"
  private val kappaSqlAgree = "CAST(n11 + n00 AS DOUBLE)"
  private val kappaSqlPe =
    "(CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)" +
      " + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))"
  private def kappaSqlCols: String =
    s"""  $kappaSqlAgree / $kappaSqlN AS po,
       |  CASE WHEN $kappaSqlN * $kappaSqlN <> $kappaSqlPe THEN
       |    ($kappaSqlN * $kappaSqlAgree - $kappaSqlPe)
       |      / ($kappaSqlN * $kappaSqlN - $kappaSqlPe)
       |  END AS kappa""".stripMargin

  val q162Sql: String = {
    s"""WITH $lmScoreCtes,
       |lmk AS (
       |  SELECT doc_id,
       |    round((CAST(sq AS DOUBLE) / 1.0e12) / n_bigrams, 6) >= $LmKeepMin AS lm
       |  FROM sc),
       |${clfMarginCtes(s"$qualityOkSql AS rule,")},
       |r AS (
       |  SELECT tk.rule, m.m > 0 AS clf, COALESCE(lmk.lm, FALSE) AS lm
       |  FROM tk JOIN m USING (doc_id) LEFT JOIN lmk USING (doc_id)),
       |p AS (
       |  SELECT 'clf_vs_lm' AS pair, clf AS a, lm AS b FROM r
       |  UNION ALL SELECT 'rule_vs_clf', rule, clf FROM r
       |  UNION ALL SELECT 'rule_vs_lm', rule, lm FROM r),
       |cm AS (
       |  SELECT pair,
       |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |  FROM p GROUP BY pair)
       |SELECT pair, n11, n10, n01, n00,
       |$kappaSqlCols
       |FROM cm ORDER BY pair""".stripMargin
  }

  // ---- q166: per-source gate agreement (drift-monitor batch dual) ----

  /** q166: the rule-vs-classifier confusion matrix and kappa PER
    * SOURCE — the batch dual of [[graft.streaming.AgreementStream]],
    * the distribution-shift monitor: a source whose kappa departs from
    * the corpus baseline is a source whose incoming documents the two
    * gates suddenly disagree about — the first observable symptom of a
    * crawl change, an encoding regression, or a classifier gone stale.
    * Same arithmetic as q162 ([[withKappa]], single-sourced), keyed by
    * source instead of gate pair; one map-only pass + one
    * map-side-combined |sources|-row aggregate. */
  def q166SourceAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = Tables.documents(s, dir)
      .select($"source", qualityOkCol.as("a"), (clfMarginCol > 0L).as("b"))
    withKappa(r.groupBy($"source").agg(
      sum(when($"a" && $"b", 1L).otherwise(0L)).as("n11"),
      sum(when($"a" && !$"b", 1L).otherwise(0L)).as("n10"),
      sum(when(!$"a" && $"b", 1L).otherwise(0L)).as("n01"),
      sum(when(!$"a" && !$"b", 1L).otherwise(0L)).as("n00")), $"source")
  }

  val q166Sql: String =
    s"""WITH ${clfMarginCtes(s"source, $qualityOkSql AS a,")},
       |r AS (SELECT tk.source, tk.a, m.m > 0 AS b
       |      FROM tk JOIN m USING (doc_id)),
       |cm AS (
       |  SELECT source,
       |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |  FROM r GROUP BY source)
       |SELECT source, n11, n10, n01, n00,
       |$kappaSqlCols
       |FROM cm ORDER BY source""".stripMargin

  // ---- q165: classifier calibration / lift table ----

  /** Calibration table bins (deciles — the standard lift-table width). */
  val CalibBins = 10L

  /** q165: the calibration/lift table of the q107 classifier against
    * the rule-gate label — the OTHER evaluation axis after q161's
    * discrimination: AUC says whether the score RANKS positives above
    * negatives; the per-decile positive rate says whether the score's
    * LEVELS mean anything (and the lift column is what a curation
    * budget decision actually reads: "the top decile is 1.8× base
    * rate"). Score deciles are EXACT ranks over the margin count domain
    * (q158's machinery — decile(m) = ⌈cum(m)·10/n⌉, integer
    * arithmetic; a tied margin value belongs wholly to one decile, so
    * tie-heavy domains legitimately produce uneven — or missing —
    * deciles rather than splitting a value across two).
    *
    * Arithmetic: counts exact; pos_rate is one exact IEEE division;
    * lift = (p_d·N)/(n_d·P) with each factor cast to double before the
    * multiply (q159's overflow convention), NULL when the corpus has no
    * positives. decile's cum·10 stays in Long for any corpus below
    * ~9·10¹⁷ documents.
    *
    * Scale: one map-only scoring pass, one map-side-combined margin
    * domain aggregation (checkpointed — the prefix window and the
    * totals row both read it), then everything is domain-sized. Same
    * honest caveat as q161: a near-unique continuous score degenerates
    * the domain row-sized (the GK-sketch regime). */
  def q165CalibrationTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    calibCore(s, Tables.documents(s, dir)
      .select(clfMarginCol.as("m"), qualityOkCol.as("pos")))
  }

  /** q165 body over any (m: long score, pos: boolean) frame. */
  private[graft] def calibCore(s: SparkSession, sc: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dom = sc.groupBy($"m").agg(count(lit(1)).as("n"),
      sum(when($"pos", 1L).otherwise(0L)).as("p"))
      .localCheckpoint(true)
    val tot = dom.agg(sum($"n").as("nt"), sum($"p").as("pt"))
    val cum = dom.withColumn("cum", sum($"n").over(
      Window.orderBy($"m").rowsBetween(Window.unboundedPreceding, 0)))
    cum.crossJoin(broadcast(tot))
      .withColumn("decile", expr(s"(cum * $CalibBins + nt - 1) div nt"))
      .groupBy($"decile")
      .agg(min($"m").as("lo_margin"), max($"m").as("hi_margin"),
        sum($"n").as("n_docs"), sum($"p").as("n_pos"),
        max($"nt").as("nt"), max($"pt").as("pt"))
      .select($"decile", $"lo_margin", $"hi_margin", $"n_docs", $"n_pos",
        ($"n_pos".cast("double") / $"n_docs".cast("double")).as("pos_rate"),
        when($"pt" > 0L,
          ($"n_pos".cast("double") * $"nt".cast("double")) /
            ($"n_docs".cast("double") * $"pt".cast("double"))).as("lift"))
      .orderBy($"decile")
  }

  val q165Sql: String =
    s"""WITH ${clfMarginCtes(s"$qualityOkSql AS pos,")},
       |dom AS (
       |  SELECT m.m, COUNT(*) AS n,
       |    SUM(CASE WHEN tk.pos THEN 1 ELSE 0 END) AS p
       |  FROM m JOIN tk USING (doc_id) GROUP BY 1),
       |tot AS (SELECT SUM(n) AS nt, SUM(p) AS pt FROM dom),
       |cum AS (
       |  SELECT m, n, p, SUM(n) OVER (ORDER BY m
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM dom),
       |d AS (
       |  SELECT (cum * $CalibBins + nt - 1) // nt AS decile, m, n, p, nt, pt
       |  FROM cum CROSS JOIN tot),
       |g AS (
       |  SELECT decile,
       |    CAST(MIN(m) AS BIGINT) AS lo_margin, CAST(MAX(m) AS BIGINT) AS hi_margin,
       |    CAST(SUM(n) AS BIGINT) AS n_docs, CAST(SUM(p) AS BIGINT) AS n_pos,
       |    CAST(MAX(nt) AS BIGINT) AS nt, CAST(MAX(pt) AS BIGINT) AS pt
       |  FROM d GROUP BY 1)
       |SELECT CAST(decile AS BIGINT) AS decile, lo_margin, hi_margin,
       |  n_docs, n_pos,
       |  CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pos_rate,
       |  CASE WHEN pt > 0 THEN
       |    (CAST(n_pos AS DOUBLE) * CAST(nt AS DOUBLE))
       |      / (CAST(n_docs AS DOUBLE) * CAST(pt AS DOUBLE))
       |  END AS lift
       |FROM g ORDER BY decile""".stripMargin

  // ---- q167: mixture / epoch plan ----

  /** Token budget for the plan: ¼ of the corpus (q109's constant). */
  private val PlanBudgetDiv = 4L

  /** q167: the temperature-mixture PLAN — the (share, rate) table a
    * training-mix config actually consumes, completing the mixture
    * family's arc: q85 DRAWS a doc-level temperature sample, q109 takes
    * the best-k tokens, q159 reweights documents; q167 answers the
    * planning question those all presuppose — "at this token budget,
    * what fraction of each source do we take, and how many epochs of
    * the small sources will the model see?" (the Pile/DoReMi recipe:
    * α = ½ target shares upsample low-resource sources, and any source
    * with rate > 1 repeats for multiple epochs).
    *
    * Per source: doc/token counts, raw share, temperature-α=½ target
    * share, and rate = tgt_share·budget / n_tokens — the expected
    * EPOCHS of that source at the budget (> 1 ⇒ upsampled/repeated).
    *
    * Engine-exact: q85's quantization — w = floor(sqrt(n_tokens)·10⁴)
    * (sqrt and the product are single correctly-rounded IEEE ops), Σw
    * exact integers, every emitted ratio ONE fixed-order double
    * expression of exact integers (factors cast before multiplying).
    *
    * Scale: one map-side-combined |sources|-row aggregate over a
    * column-pruned corpus pass; the plan frame is checkpointed
    * (|sources| rows) so the totals row and the final projection both
    * read it; nothing else exists. */
  def q167MixturePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    planCore(s, Tables.documents(s, dir)
      .select($"source", size(toks($"text")).cast("long").as("nt")))
  }

  /** q167 body over any (source, nt = tokens-per-doc) frame. */
  private[graft] def planCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val per = docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
      .withColumn("w", floor(sqrt($"n_tokens".cast("double")) *
        lit(MixScale.toDouble)).cast("long"))
      .localCheckpoint(true)
    val tot = per.agg(sum($"n_tokens").as("t_corpus"), sum($"w").as("sw"))
      .select($"t_corpus", $"sw",
        expr(s"t_corpus div $PlanBudgetDiv").as("budget"))
    per.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"n_tokens",
        ($"n_tokens".cast("double") / $"t_corpus".cast("double")).as("raw_share"),
        ($"w".cast("double") / $"sw".cast("double")).as("tgt_share"),
        (($"w".cast("double") * $"budget".cast("double")) /
          ($"sw".cast("double") * $"n_tokens".cast("double"))).as("rate"))
      .withColumn("upsampled", $"rate" > 1.0)
      .orderBy($"source")
  }

  val q167Sql: String =
    s"""WITH per AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |pw AS (
       |  SELECT source, n_docs, n_tokens,
       |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * ${MixScale}.0e0)
       |      AS BIGINT) AS w
       |  FROM per),
       |tot AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_corpus,
       |    CAST(SUM(w) AS BIGINT) AS sw,
       |    CAST(SUM(n_tokens) AS BIGINT) // $PlanBudgetDiv AS budget
       |  FROM pw)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / CAST(t_corpus AS DOUBLE) AS raw_share,
       |  CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) AS tgt_share,
       |  (CAST(w AS DOUBLE) * CAST(budget AS DOUBLE))
       |    / (CAST(sw AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS rate,
       |  (CAST(w AS DOUBLE) * CAST(budget AS DOUBLE))
       |    / (CAST(sw AS DOUBLE) * CAST(n_tokens AS DOUBLE)) > 1.0e0 AS upsampled
       |FROM pw CROSS JOIN tot ORDER BY source""".stripMargin

  // ---- q109: token-budget curriculum selection ----

  /** Keep the best-scoring quarter of corpus tokens (budget = total/4). */
  val BudgetDen = 4L

  /** q109: quality-ranked token-budget selection — "train on the best N
    * tokens": documents are ranked by the q107 classifier margin (best
    * first, doc_id tiebreak) and greedily taken until the token budget
    * (¼ of the corpus) is spent — the data-selection step behind
    * quality-pruned training sets (DoReMi/DSIR-style pipelines reduce to
    * exactly this once per-doc scores exist). A document is kept iff the
    * budget is not yet exhausted when its turn starts.
    *
    * Scale: scoring is q107's map-only chain; the ranking + running
    * token total is ONE [[graft.plans.PrefixSumPlan]] pass (third
    * production use) — rank and cumulative tokens are packed into a
    * single prefix-summed value (tokens·2²⁰ + 1), so one range-sort
    * yields both, instead of a second global sort or a one-task window.
    * The budget is a 1-row broadcast. Packing bounds (scaladoc'd, far
    * above any real corpus shard): |margin| < 2²¹, doc_id < 2²²,
    * doc count < 2²⁰, total tokens < 2⁴². */
  def q109BudgetSelect(s: SparkSession, dir: String): DataFrame =
    budgetSelectCore(s, Tables.documents(s, dir))

  /** q109 body over an arbitrary documents frame. */
  private[graft] def budgetSelectCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // Checkpointed: both the budget total and the ranked selection read
    // this 24-byte/doc frame — without it the total branch re-scans and
    // re-hashes the corpus (plan-branch double execution; the q104/q88
    // small-derived-frame remedy).
    val scored = classifierCore(s, docs)
      .select($"doc_id", $"margin",
        expr("(n_feats + 1) div 2").as("n_tokens"))
      .localCheckpoint(false)
    val total = scored.agg(sum($"n_tokens").as("total"))
    val keyed = scored
      .withColumn("okey", (lit(1L << 21) - $"margin") * lit(1L << 22) + $"doc_id")
      .withColumn("packed", $"n_tokens" * lit(1L << 20) + 1L)
    graft.plans.PrefixSumPlan.scan(keyed, "okey", "packed", "cum0")
      .select($"doc_id", $"n_tokens", $"margin",
        (expr("cum0 % 1048576") + 1L).as("sel_rank"),
        expr("cum0 div 1048576").as("cum_before"))
      .crossJoin(broadcast(total))
      .select($"doc_id", $"n_tokens", $"margin", $"sel_rank", $"cum_before",
        ($"cum_before" < expr(s"total div $BudgetDen")).as("keep"))
      .orderBy($"sel_rank")
  }

  val q109Sql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    unnest(t || list_transform(generate_series(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1])) AS f
       |  FROM tk),
       |sc AS (
       |  SELECT doc_id, COUNT(*) AS n_feats,
       |    SUM(((${DedupQueries.sqlH32("f")}) % $ClfBuckets * 2654435761) % 1001 - 500)
       |      AS margin
       |  FROM f GROUP BY doc_id),
       |t AS (SELECT doc_id, margin, (n_feats + 1) // 2 AS n_tokens,
       |        (2097152 - margin) * 4194304 + doc_id AS okey FROM sc),
       |o AS (
       |  SELECT doc_id, n_tokens, margin,
       |    ROW_NUMBER() OVER (ORDER BY okey) AS sel_rank,
       |    COALESCE(SUM(n_tokens) OVER (ORDER BY okey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
       |    SUM(n_tokens) OVER () AS total
       |  FROM t)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(margin AS BIGINT) AS margin, CAST(sel_rank AS BIGINT) AS sel_rank,
       |  CAST(cum_before AS BIGINT) AS cum_before,
       |  cum_before < total // $BudgetDen AS keep
       |FROM o ORDER BY sel_rank""".stripMargin

  // ---- q122: BPE merge learning (tokenizer training) ----

  /** Number of byte-pair merges learned. */
  val BpeMerges = 20
  /** Symbol separator inside the per-word tokenization string: U+001F
    * (unit separator), guaranteed absent from text words (filtered
    * defensively on both engines). */
  private val BpeSep = "\u001f"

  /** q122: learn a BPE merge table from the corpus — actual tokenizer
    * TRAINING (Sennrich, Haddow & Birch, "Neural Machine Translation of
    * Rare Words with Subword Units", ACL 2016), not just applying a
    * regex: start from characters, repeatedly merge the most frequent
    * adjacent symbol pair (ties broken lexicographically), emitting the
    * (rank, left, right, freq) merge table that defines the tokenizer.
    *
    * Representation: each word's current tokenization is a single STRING
    * `sep + sym + sep·sep + sym + ... + sep` (symbols joined by a DOUBLE
    * separator with sentinel separators at both ends). Applying a merge
    * (l, r) is then one built-in `replace(s, sep·l·sep·sep·r·sep,
    * sep·l·r·sep)` — and because `replace` substitutes left-to-right
    * without overlap, it implements BPE's left-to-right non-overlapping
    * merge semantics exactly; the end sentinels make the pattern match
    * only whole symbols, so a pair (a,b) can never fire inside a word
    * holding the symbol "bc". The SAME replace semantics exist in the
    * oracle engine, which replays all [[BpeMerges]] rounds as unrolled
    * materialized CTEs — a VALUE-level oracle on learned tokenizer
    * state.
    *
    * Scale: BPE trains on the WORD-TYPE table (distinct words weighted
    * by frequency), which is vocabulary-sized — millions of rows at
    * 100 TB, not corpus-sized. Each round is one partial-aggregated
    * pair-count over that table plus a map-only replace; the single-row
    * top-pair collect per round is the q72/q82 driver-sync precedent,
    * and per-round checkpoints keep the 20-round lineage flat. */
  def q122BpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeMergesCore(s, Tables.documents(s, dir), BpeMerges)

  /** q122 core over any (text) frame — spec entry point. */
  def bpeMergesCore(s: SparkSession, docsIn: DataFrame, nMerges: Int): DataFrame = {
    import s.implicits._
    bpeTrain(s, docsIn, nMerges)._1
      .toDF("rank", "left_sym", "right_sym", "pair_freq")
      .orderBy($"rank")
  }

  /** Shared BPE training loop: returns the learned merge table AND the
    * final per-word-TYPE tokenization state (word, freq, s) — q122 ships
    * the former; q127 reuses the latter so encode never re-derives what
    * training already computed. */
  private def bpeTrain(s: SparkSession, docsIn: DataFrame, nMerges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import s.implicits._
    val sep = BpeSep
    val vocab = docsIn
      .select(explode(split($"text", " ")).as("word"))
      .where($"word" =!= "" && !$"word".contains(sep))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    // each round's top-pair collect is the action that stores that
    // round's state frame, so the pending-checkpoint chain never exceeds
    // depth 1 and the frame before it can go
    val rounds = new Rounds()
    var cur = rounds(vocab.select($"word", $"freq",
      concat(lit(sep),
        concat_ws(sep + sep,
          transform(sequence(lit(1), length($"word")), i => $"word".substr(i, lit(1)))),
        lit(sep)).as("s")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      val syms = split(expr("substring(s, 2, length(s) - 2)"), sep + sep)
      val pairsArr = graft.functions.Cols.bind(syms) { t =>
        when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("l"), element_at(t, i + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))
      }
      // AQE-planned (round-19 revert of the round-18 AQE-off sync planning):
      // the static plan fixed each round's pair-count shuffle at
      // spark.sql.shuffle.partitions tasks, so its overhead grew with
      // core count — the driver's paired runs showed the family 1.6×
      // SLOWER at 32 cores than at 8 (q122 0.62, q127 0.62, q132 0.62,
      // q136 0.41 scaling ratios). AQE's small-shuffle coalescing is
      // worth more than its replanning cost at every measured core count.
      val top = cur.select($"freq", explode(pairsArr).as("p"))
          .groupBy($"p.l".as("l"), $"p.r".as("r")).agg(sum($"freq").as("cnt"))
          .orderBy($"cnt".desc, $"l".asc, $"r".asc)
          .limit(1).collect()
      rounds.settle(cur)
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, cnt))
        cur = rounds(cur.withColumn("s", call_function("replace", $"s",
            lit(sep + l + sep + sep + r + sep), lit(sep + l + r + sep))))
        k += 1
      }
    }
    (merges.toSeq, cur)
  }

  /** Shared oracle text for the BPE training chain (review finding: this
    * generator existed verbatim in four oracles — one copy now feeds
    * q122/q127/q132/q136). [[bpeLearnPreamble]] is the v/w0 word-type
    * CTE body (no WITH keyword — callers choose WITH vs WITH RECURSIVE);
    * [[bpeLearnStages]] are the p1..pN / w1..wN merge-round CTEs. */
  private def bpeLearnPreamble: String = {
    val S = "chr(31)"
    s"""v AS (
       |  SELECT w AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND strpos(w, $S) = 0 GROUP BY w),
       |w0 AS (
       |  SELECT freq, $S || list_aggr(list_transform(generate_series(1, len(word)),
       |      i -> substring(word, CAST(i AS INT), 1)), 'string_agg', $S||$S) || $S AS s
       |  FROM v)""".stripMargin
  }

  private def bpeLearnStages(nMerges: Int): String = {
    val S = "chr(31)"
    def stage(k: Int): String = {
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s""",
         |p$k AS MATERIALIZED (
         |  SELECT l, r, cnt FROM (
         |    SELECT syms[i] AS l, syms[i+1] AS r, SUM(freq) AS cnt
         |    FROM (SELECT freq, string_split(substring(s, 1 + len($S), len(s) - 2*len($S)), $S||$S) AS syms FROM $prev),
         |         unnest(generate_series(1, len(syms) - 1)) AS t(i)
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT freq, replace(s, $S||p.l||$S||$S||p.r||$S, $S||p.l||p.r||$S) AS s
         |  FROM $prev, p$k p)""".stripMargin
    }
    (1 to nMerges).map(stage).mkString
  }

  val q122Sql: String = {
    val finals = (1 to BpeMerges).map(k =>
      s"SELECT $k AS rank, l AS left_sym, r AS right_sym, CAST(cnt AS BIGINT) AS pair_freq FROM p$k")
      .mkString(" UNION ALL ")
    s"""WITH $bpeLearnPreamble${bpeLearnStages(BpeMerges)}
       |SELECT * FROM ($finals) ORDER BY rank""".stripMargin
  }

  // ---- q127: BPE encode (tokenizer application) ----

  // Word boundary in the ORACLE's per-doc replay strings: U+001E
  // (chr(30)). A merge pattern sep-l-sep-sep-r-sep can never straddle
  // it: the boundary between two word reps reads ...sep RS sep..., which
  // contains no sep-sep, so the replay's merges stay word-local exactly
  // as in training -- matching the per-word-TYPE Spark encode, where no
  // joint per-doc string exists at all.

  /** q127: APPLY the q122-learned tokenizer to the corpus — the encode
    * half of the train/apply pair — and emit per-doc BPE token counts
    * (the number a packing/pricing/curriculum stage consumes).
    *
    * BPE merges are word-local, so tokenize each word TYPE exactly once:
    * the training loop's final state already holds every word's fully-
    * merged representation, so encode is a per-TYPE token count
    * (vocabulary-sized, zero extra merge work) broadcast-joined to the
    * exploded corpus and summed per doc — the production shape, where
    * the tokenizer's word cache does the merging and the corpus pass is
    * one explode + one aggregation shuffle. (The alternative — replaying
    * the 20 merges as chained `replace`s over per-doc strings — re-does
    * per-TOKEN work per OCCURRENCE and measured 2× slower at sf0.1.)
    *
    * Token arithmetic: tokens(word) = (sep·sep occurrences in its final
    * representation) + 1 — integer-only, hash-exact. The oracle
    * re-learns the merge table with q122's unrolled CTE chain and
    * replays the replaces over per-DOC strings (word-boundary sentinels
    * keep merges word-local), independently deriving the same counts —
    * a value-level oracle on the COMPOSED train→encode pipeline. */
  def q127BpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodeCore(s, Tables.documents(s, dir), BpeMerges)

  /** q127 core over any (doc_id, text) frame — spec entry point. */
  def bpeEncodeCore(s: SparkSession, docs: DataFrame, nMerges: Int): DataFrame = {
    import s.implicits._
    val sep = BpeSep
    val (_, trained) = bpeTrain(s, docs, nMerges)
    // per-word-TYPE token count from the final training state
    val wtok = trained.select($"word",
      (length($"s") -
        length(call_function("replace", $"s", lit(sep + sep), lit(sep))) +
        1).as("n_tok"))
    val words = filter(split($"text", " "),
      w => w =!= "" && !w.contains(BpeSep))
    val perDoc = docs.select($"doc_id", explode(words).as("word"))
      .join(broadcast(wtok), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_tok").as("n_tokens"))
    // zero-word docs drop out of the explode; restore them as (0, 0)
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_tokens", lit(0L)).as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** Oracle: q122's learning CTEs (p1..p20) + the same 20 unrolled
    * replaces over the per-doc representation. */
  lazy val q127Sql: String = {
    val S = "chr(31)"
    val R = "chr(30)"
    def applyStage(k: Int): String =
      s""",
         |a$k AS MATERIALIZED (
         |  SELECT doc_id, n_words,
         |    replace(s, $S||p.l||$S||$S||p.r||$S, $S||p.l||p.r||$S) AS s
         |  FROM a${k - 1}, p$k p)""".stripMargin
    val learn = bpeLearnStages(BpeMerges)
    val app = (1 to BpeMerges).map(applyStage).mkString
    s"""WITH $bpeLearnPreamble$learn,
       |dw AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> w <> '' AND strpos(w, $S) = 0) AS ws
       |  FROM documents),
       |a0 AS (
       |  SELECT doc_id, len(ws) AS n_words,
       |    COALESCE(list_aggr(list_transform(ws,
       |      w -> $S || list_aggr(list_transform(generate_series(1, len(w)),
       |             i -> substring(w, CAST(i AS INT), 1)), 'string_agg', $S||$S) || $S),
       |      'string_agg', $R), '') AS s
       |  FROM dw)$app
       |SELECT doc_id, n_words,
       |  (len(s) - len(replace(s, $S||$S, $S)) + n_words) AS n_tokens
       |FROM a$BpeMerges ORDER BY doc_id""".stripMargin
  }

  // ---- q132: WordPiece greedy encode (longest-match-first) ----

  /** q132: the OTHER subword inference rule — WordPiece's greedy
    * longest-match-first segmentation (Wu et al. 2016; BERT's
    * tokenizer), against the vocabulary the q122 training derives
    * (every corpus word character + each merge's output symbol — the
    * standard BPE-vocab construction). Greedy longest-match and BPE
    * merge-order replay (q127) genuinely differ: BPE builds "ab"+"c"
    * when the (a,b) merge outranks (b,c), while WordPiece takes the
    * longest vocabulary prefix regardless of how it was learned — so
    * per-doc piece counts are a DIFFERENT tokenization of the same
    * corpus (WordpieceSpec pins a disagreeing fixture).
    *
    * Execution: segmentation runs ONCE per word TYPE (vocabulary-sized)
    * through the native [[graft.functions.WordpieceEncode]] expression —
    * the vocabulary is a plan literal compiled to per-length hash sets,
    * one static call per word inside whole-stage codegen — then
    * per-type piece counts broadcast-join the exploded corpus (q127's
    * shape: the corpus pass is one explode + one aggregation shuffle).
    * A word with an unseen character becomes the single [UNK] piece
    * (n_unk counts them; zero on the training corpus by construction).
    * Oracle: q122's learning CTEs derive the same vocabulary, a
    * RECURSIVE CTE replays the greedy longest-prefix loop per word
    * type (each step consumes the longest matching prefix via a
    * correlated max-length probe), and the same per-doc rollup — a
    * value-level oracle on the composed train→segment pipeline. */
  def q132WordpieceEncode(s: SparkSession, dir: String): DataFrame =
    wordpieceCore(s, Tables.documents(s, dir), BpeMerges)

  /** q132 core over any (doc_id, text) frame — spec entry point. */
  private[graft] def wordpieceCore(s: SparkSession, docs: DataFrame,
      nMerges: Int): DataFrame = {
    import s.implicits._
    val (merges, trained) = bpeTrain(s, docs, nMerges)
    // the vocabulary ARTIFACT: KB-sized, collected once (the q121
    // literal-basis precedent) — corpus chars + merge outputs
    val chars = trained.select(explode(transform(
        sequence(lit(1), length($"word")), i => $"word".substr(i, lit(1)))).as("p"))
      .distinct().orderBy($"p").collect().map(_.getString(0)).toSeq
    val vocab = (chars ++ merges.map(m => m._2 + m._3)).distinct
    val pieces = graft.functions.WordpieceEncode($"word", vocab)
    val unk = lit(graft.functions.WordpieceEncode.Unk)
    val wtok = trained.select($"word", pieces.as("pieces"))
      .select($"word", size($"pieces").as("np"),
        size(filter($"pieces", p => p === unk)).as("nu"))
    val words = filter(split($"text", " "),
      w => w =!= "" && !w.contains(BpeSep))
    val perDoc = docs.select($"doc_id", explode(words).as("word"))
      .join(broadcast(wtok), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"np").as("n_pieces"), sum($"nu").as("n_unk"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_pieces", lit(0L)).as("n_pieces"),
        coalesce($"n_unk", lit(0L)).as("n_unk"))
      .orderBy($"doc_id")
  }

  /** Oracle: q122's learning CTEs → vocabulary → recursive greedy
    * longest-prefix segmentation per word type → per-doc rollup. */
  lazy val q132Sql: String = {
    val S = "chr(31)"
    val learn = bpeLearnStages(BpeMerges)
    val mergeOut = (1 to BpeMerges)
      .map(k => s"SELECT l || r AS piece FROM p$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bpeLearnPreamble$learn,
       |vocab AS MATERIALIZED (
       |  SELECT DISTINCT piece FROM (
       |    SELECT substring(word, CAST(i AS INT), 1) AS piece
       |    FROM v, unnest(generate_series(1, len(word))) AS t(i)
       |    UNION ALL $mergeOut)),
       |enc AS (
       |  SELECT word, word AS rest, 0 AS np, 0 AS nu FROM v
       |  UNION ALL
       |  SELECT word,
       |    CASE WHEN l IS NULL THEN '' ELSE substring(rest, CAST(l AS INT) + 1) END,
       |    CASE WHEN l IS NULL THEN 1 ELSE np + 1 END,
       |    CASE WHEN l IS NULL THEN 1 ELSE nu END
       |  FROM (
       |    -- longest matching prefix via LEFT JOIN + MAX, not a
       |    -- correlated subquery: inside a recursive arm the engine
       |    -- resolves a subquery's CTE reference to an EMPTY relation
       |    -- (observed: every word degraded to [UNK]); the join form
       |    -- sees the materialized vocabulary correctly
       |    SELECT e.word, e.rest, e.np, e.nu, MAX(len(p.piece)) AS l
       |    FROM (SELECT * FROM enc WHERE rest <> '') e
       |    LEFT JOIN vocab p ON p.piece = substring(e.rest, 1, len(p.piece))
       |    GROUP BY 1, 2, 3, 4)),
       |wtok AS (SELECT word, np, nu FROM enc WHERE rest = ''),
       |dw AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |    w -> w <> '' AND strpos(w, $S) = 0)) AS word
       |  FROM documents),
       |pd AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(np) AS BIGINT) AS n_pieces, CAST(SUM(nu) AS BIGINT) AS n_unk
       |  FROM dw JOIN wtok USING (word) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
       |  COALESCE(n_pieces, 0) AS n_pieces, COALESCE(n_unk, 0) AS n_unk
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q136: unigram-LM (SentencePiece-style) segmentation ----

  /** q136: the THIRD subword inference family — unigram-LM segmentation
    * (Kudo 2018; SentencePiece's model), completing the tokenizer suite
    * beside BPE merge replay (q127) and WordPiece greedy longest-match
    * (q132). Unlike both, unigram GLOBALLY optimizes each word's
    * tokenization: fewest pieces first, then the highest total piece
    * frequency (the integer-exact stand-in for max Σ log p — see
    * [[graft.functions.UnigramSegment]]; greedy provably differs, and a
    * disagreeing fixture is pinned in UnigramSpec).
    *
    * The vocabulary is q122/q132's construction (corpus characters +
    * the 20 merge outputs); each piece's frequency is the summed corpus
    * frequency of the word TYPES containing it — derived with one
    * broadcast containment join over the KB-sized piece list, collected
    * once as a plan literal (the q121/q132 artifact precedent).
    * Segmentation then runs ONCE per word type through the native DP
    * expression inside whole-stage codegen, and the corpus pass is
    * q127's shape: one explode + broadcast join + one aggregation
    * shuffle. Oracle: the merge-learning CTEs, the same containment-
    * join frequencies, and the DP unrolled position-by-position (b1..b12
    * stages, struct-MIN realizing the lexicographic (cost, −fsum)
    * tie-break) — a value-level oracle on the composed
    * train→weigh→segment pipeline. */
  def q136UnigramSegment(s: SparkSession, dir: String): DataFrame =
    unigramCore(s, Tables.documents(s, dir), BpeMerges)

  /** q136 core over any (doc_id, text) frame — spec entry point. */
  private[graft] def unigramCore(s: SparkSession, docs: DataFrame,
      nMerges: Int): DataFrame = {
    import s.implicits._
    val (merges, trained) = bpeTrain(s, docs, nMerges)
    // no cluster-side sort: pieces are driver-.sorted below anyway
    val chars = trained.select(explode(transform(
        sequence(lit(1), length($"word")), i => $"word".substr(i, lit(1)))).as("p"))
      .distinct().collect().map(_.getString(0)).toSeq
    val pieces = (chars ++ merges.map(m => m._2 + m._3)).distinct.sorted
    // piece weight = Σ corpus freq of word types containing it (KB join)
    val pdf = pieces.toDF("piece")
    val freqMap = trained.select($"word", $"freq")
      .join(broadcast(pdf), $"word".contains($"piece"))
      .groupBy($"piece").agg(sum($"freq").as("pfreq"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocabF = pieces.map(p => (p, freqMap.getOrElse(p, 0L)))
    unigramEncode(s, docs, vocabF)
  }

  /** The encode half against a FROZEN weighted vocabulary — the
    * production shape (train once, encode every ingest batch) and the
    * scale-probe entry point: one explode + broadcast join + one
    * aggregation shuffle over the corpus; segmentation runs per word
    * TYPE only. */
  private[graft] def unigramEncode(s: SparkSession, docs: DataFrame,
      vocabF: Seq[(String, Long)]): DataFrame = {
    import s.implicits._
    val words = filter(split($"text", " "),
      w => w =!= "" && !w.contains(BpeSep))
    val seg = graft.functions.UnigramSegment($"word", vocabF)
    val wtok = docs.select(explode(words).as("word")).distinct()
      .select($"word", seg.as("seg"))
      .select($"word", $"seg.n_pieces".as("np"), $"seg.freq_sum".as("fs"))
    val perDoc = docs.select($"doc_id", explode(words).as("word"))
      .join(broadcast(wtok), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"np").as("n_pieces"), sum($"fs").as("freq_sum"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"n_pieces", lit(0L)).as("n_pieces"),
        coalesce($"freq_sum", lit(0L)).as("freq_sum"))
      .orderBy($"doc_id")
  }

  /** Oracle: q122's learning CTEs → vocabulary + containment-join
    * frequencies → the DP unrolled over positions 1..MaxDp with
    * struct-MIN tie-breaks → per-doc rollup. */
  lazy val q136Sql: String = {
    val S = "chr(31)"
    val MaxDp = graft.functions.UnigramSegment.MaxDp
    def dpStage(i: Int): String =
      s""",
         |d$i AS MATERIALIZED (
         |  SELECT word, $i AS pos, ms.c AS cost, ms.nf AS nf FROM (
         |    SELECT p.word, MIN({'c': p.cost + 1, 'nf': p.nf - f.pfreq}) AS ms
         |    FROM b${i - 1} p JOIN pf f
         |      ON len(f.piece) = $i - p.pos
         |     AND substring(p.word, p.pos + 1, len(f.piece)) = f.piece
         |    WHERE len(p.word) >= $i
         |    GROUP BY p.word)),
         |b$i AS MATERIALIZED (
         |  SELECT * FROM b${i - 1} UNION ALL SELECT * FROM d$i)""".stripMargin
    val learn = bpeLearnStages(BpeMerges)
    val dp = (1 to MaxDp).map(dpStage).mkString
    val mergeOut = (1 to BpeMerges)
      .map(k => s"SELECT l || r AS piece FROM p$k").mkString(" UNION ALL ")
    s"""WITH $bpeLearnPreamble$learn,
       |vocab AS MATERIALIZED (
       |  SELECT DISTINCT piece FROM (
       |    SELECT substring(word, CAST(i AS INT), 1) AS piece
       |    FROM v, unnest(generate_series(1, len(word))) AS t(i)
       |    UNION ALL $mergeOut)),
       |pfj AS (
       |  SELECT p.piece, CAST(SUM(w.freq) AS BIGINT) AS pfreq
       |  FROM vocab p JOIN v w ON strpos(w.word, p.piece) > 0
       |  GROUP BY p.piece),
       |pf AS MATERIALIZED (
       |  SELECT piece, COALESCE(pfreq, 0) AS pfreq
       |  FROM vocab LEFT JOIN pfj USING (piece)),
       |b0 AS (
       |  SELECT word, 0 AS pos, 0 AS cost, CAST(0 AS BIGINT) AS nf
       |  FROM v WHERE len(word) <= $MaxDp)$dp,
       |wtokS AS (
       |  SELECT sv.word,
       |    CAST(COALESCE(b.cost, -1) AS BIGINT) AS np,
       |    CAST(COALESCE(-b.nf, 0) AS BIGINT) AS fs
       |  FROM (SELECT word FROM v WHERE len(word) <= $MaxDp) sv
       |  LEFT JOIN b$MaxDp b ON b.word = sv.word AND b.pos = len(sv.word)),
       |lc AS (
       |  SELECT lv.word, substring(lv.word, CAST(i AS INT), 1) AS ch
       |  FROM (SELECT word FROM v WHERE len(word) > $MaxDp) lv,
       |       unnest(generate_series(1, len(lv.word))) AS t(i)),
       |wtokL AS (
       |  SELECT lc.word, CAST(len(lc.word) AS BIGINT) AS np,
       |    CAST(COALESCE(SUM(f.pfreq), 0) AS BIGINT) AS fs
       |  FROM lc LEFT JOIN pf f ON f.piece = lc.ch
       |  GROUP BY lc.word),
       |wtok AS (SELECT * FROM wtokS UNION ALL SELECT * FROM wtokL),
       |dw AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |    w -> w <> '' AND strpos(w, $S) = 0)) AS word
       |  FROM documents),
       |pd AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(np) AS BIGINT) AS n_pieces,
       |    CAST(SUM(fs) AS BIGINT) AS freq_sum
       |  FROM dw JOIN wtok USING (word) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
       |  COALESCE(n_pieces, 0) AS n_pieces, COALESCE(freq_sum, 0) AS freq_sum
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- q139: source-pair vocabulary drift (total-variation) ----

  /** q139: pairwise vocabulary drift between corpus sources — the
    * mixture-monitoring op behind "did source X's distribution shift
    * away from source Y" (domain reweighting, crawl-regression alarms,
    * contamination triage). The distance is total variation on word
    * frequencies, kept INTEGER-exact by cross-multiplying the
    * normalizers:
    *
    *   tv_num(s1,s2) = Σ_w |c1(w)·n2 − c2(w)·n1|,  TV = tv_num/(2·n1·n2)
    *
    * Scale design — the definitional form is a DENSE vocabulary × pairs
    * cross product (what the oracle runs); this plan never builds it.
    * The absent-word terms telescope: words only in s1 contribute
    * n2·(n1 − Σ_shared c1), symmetrically for s2 — so only words
    * present in BOTH sources of a pair need a join. The query joins the
    * per-(source, word) count frame to itself on word (sparse: a word
    * appearing in k sources yields k·(k−1)/2 pair rows, partial-
    * aggregated map-side), then corrects with the KB-sized totals
    * frame. BIGINT range: c·n < 2^63 holds to ~3·10⁹ tokens per source;
    * beyond that the counts column scales to per-million integers
    * before the same arithmetic.
    *
    * The emitted `tv` double is exact-integer division (both factors
    * < 2^53 at any gate SF), so even the float column hash-matches. */
  def q139SourceDrift(s: SparkSession, dir: String): DataFrame =
    sourceDriftCore(s, Tables.documents(s, dir))

  /** q139 core over any (source, text) frame — spec entry point. */
  private[graft] def sourceDriftCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val words = filter(split($"text", " "), w => w =!= "")
    val occ = docs.select($"source", explode(words).as("word"))
      .groupBy($"source", $"word").agg(count(lit(1)).as("cnt"))
    val tot = occ.groupBy($"source").agg(sum($"cnt").as("n"))
    val occN = occ.join(broadcast(tot), Seq("source"))
    val shared = occN.as("a").join(occN.as("b"),
        col("a.word") === col("b.word") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(sum(col("a.cnt")).as("shc1"), sum(col("b.cnt")).as("shc2"),
        sum(abs(col("a.cnt") * col("b.n") - col("b.cnt") * col("a.n")))
          .as("sh_abs"),
        count(lit(1)).as("n_shared"))
    val pairs = tot.as("a").join(tot.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
    pairs.join(shared, Seq("s1", "s2"), "left")
      .select($"s1", $"s2", $"n1", $"n2",
        ($"n2" * ($"n1" - coalesce($"shc1", lit(0L))) +
         $"n1" * ($"n2" - coalesce($"shc2", lit(0L))) +
         coalesce($"sh_abs", lit(0L))).as("tv_num"),
        coalesce($"n_shared", lit(0L)).as("n_shared"))
      .withColumn("tv",
        $"tv_num".cast("double") / ((lit(2.0) * $"n1") * $"n2"))
      .orderBy($"s1", $"s2")
  }

  /** Oracle: the dense definitional form — every (pair, vocabulary
    * word) combination with zero-coalesced counts. An independent
    * strategy from the query's sparse shared-word decomposition. */
  val q139Sql: String =
    """WITH occ AS (
      |  SELECT source, w AS word, COUNT(*) AS cnt FROM (
      |    SELECT source, unnest(list_filter(string_split(text, ' '),
      |      w -> w <> '')) AS w
      |    FROM documents)
      |  GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM occ GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS s1, b.source AS s2, a.n AS n1, b.n AS n2
      |  FROM tot a JOIN tot b ON a.source < b.source),
      |dense AS (
      |  SELECT p.s1, p.s2, p.n1, p.n2,
      |    COALESCE(o1.cnt, 0) AS c1, COALESCE(o2.cnt, 0) AS c2
      |  FROM pairs p
      |  CROSS JOIN (SELECT DISTINCT word FROM occ) w
      |  LEFT JOIN occ o1 ON o1.source = p.s1 AND o1.word = w.word
      |  LEFT JOIN occ o2 ON o2.source = p.s2 AND o2.word = w.word)
      |SELECT s1, s2, n1, n2,
      |  CAST(SUM(abs(c1*n2 - c2*n1)) AS BIGINT) AS tv_num,
      |  CAST(SUM(CASE WHEN c1 > 0 AND c2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared,
      |  CAST(SUM(abs(c1*n2 - c2*n1)) AS DOUBLE) / (2.0 * n1 * n2) AS tv
      |FROM dense GROUP BY 1, 2, 3, 4 ORDER BY s1, s2""".stripMargin

  // ---- q134: Unicode NFC normalization audit ----

  /** q134: NFC-normalize the corpus and audit the effect — the
    * canonicalization pass every hash-keyed operator depends on: NFC
    * and NFD spellings of the same text are byte-different, so exact
    * dedup (q24), MinHash shingles (q25), URL keys (q99) and winnow
    * fingerprints (q119) all silently miss equal-looking duplicates on
    * an unnormalized corpus (NfcSpec pins exactly that miss-then-catch
    * on a composed/decomposed pair). Runs the native
    * [[graft.functions.NfcNormalize]] expression (JDK Normalizer, UAX
    * #15 — with an ASCII fast path that skips the normalizer entirely)
    * and emits per-doc (changed?, normalized length, normalized md5);
    * the md5 makes the oracle VALUE-level on the normalized BYTES, both
    * engines implementing the same Unicode composition (utf8proc on the
    * oracle side). Map-only at any scale. */
  def q134NfcNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = graft.functions.NfcNormalize($"text")
    Tables.documents(s, dir)
      .select($"doc_id", norm.as("norm"), $"text")
      .select($"doc_id",
        ($"norm" =!= $"text").as("changed"),
        length($"norm").as("n_chars"),
        md5($"norm".cast("binary")).as("norm_md5"))
      .orderBy($"doc_id")
  }

  val q134Sql: String =
    """SELECT doc_id,
      |  nfc_normalize(text) <> text AS changed,
      |  CAST(length(nfc_normalize(text)) AS INT) AS n_chars,
      |  md5(nfc_normalize(text)) AS norm_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q135: HTML → text extraction with boilerplate line filtering ----

  /** Boilerplate gates: a line survives with ≥ [[MinLineWords]] words
    * AND link-text ≤ half its characters (nav/footer lines are nearly
    * all anchor text; body prose is nearly none). */
  private val MinLineWords = 4

  /** q135: markup → training text — the stage every web corpus starts
    * with (C4/RefinedWeb/Dolma all begin at raw crawl HTML). The corpus
    * tables carry plain text, so the query first RENDERS each document
    * into a deterministic page (title/style/script head, h1, the text
    * split into paragraphs, an entity-bearing constant paragraph, a
    * pure-link nav bar, a too-short footer — the same SQL-expressible
    * concat on both engines), then runs the op under test:
    *
    *  1. the native [[graft.functions.HtmlText]] scan — script/style
    *     dropped with content, block tags → line breaks, anchors
    *     sentinel-delimited, entities decoded, whitespace collapsed;
    *  2. line-level boilerplate filtering with built-in (codegen'd)
    *     HOFs — per line, word count and LINK DENSITY from the anchor
    *     sentinels, integer-only math;
    *  3. per-doc rollup: line counts and the md5 of the kept text — a
    *     VALUE-level oracle on the extracted bytes.
    *
    * The oracle replays the scan as a regexp_replace chain + identical
    * list math; general-case parser behavior (nesting, malformed tags,
    * quote-aware attrs, unknown entities) is pinned in HtmlTextSpec.
    * Scale: map-only — one linear scan per document, no regex in the
    * extraction hot path, no shuffle anywhere. */
  def q135HtmlExtract(s: SparkSession, dir: String): DataFrame =
    htmlExtractCore(s, Tables.documents(s, dir))

  /** q135 core over any (doc_id, source, text) frame — spec entry. */
  private[graft] def htmlExtractCore(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val html = concat(
      lit("<html><head><title>"), $"source", lit(" "),
      $"doc_id".cast("string"),
      lit("</title><style>p{margin:0}</style>" +
        "<script>var x=1; if(x<2){x=3;}</script></head><body><h1>"),
      $"source",
      lit("</h1><p>"),
      call_function("replace", $"text", lit(" table "), lit("</p><p>")),
      lit("</p><p>Terms &amp; conditions apply to &lt;everyone&gt; here</p>" +
        "<div><a href=\"/home\">Home</a> <a href=\"/next\">Next</a></div>" +
        "<p>Contact us</p></body></html>"))
    val sent = "\u0011\u0012"
    // identical per-line math on both engines: normalize spacing first,
    // then strip/measure — spacing minutiae can never split the engines
    val norm = (l: Column) => trim(regexp_replace(l, lit(" +"), lit(" ")))
    val strip = (l: Column) => translate(l, sent, "")
    val noLink = (l: Column) =>
      translate(regexp_replace(l, lit("\u0011[^\u0012]*\u0012"), lit("")), sent, "")
    val keep = (l: Column) => {
      val st = strip(l)
      (size(filter(split(st, " "), w => w =!= "")) >= MinLineWords) &&
        (length(st) - length(noLink(l))) * 2 <= length(st)
    }
    docs
      .select($"doc_id", graft.functions.HtmlText(html).as("xt"))
      .withColumn("lines",
        filter(transform(split($"xt", "\n"), norm), l => l =!= ""))
      .withColumn("kept", transform(filter($"lines", keep), strip))
      .select($"doc_id",
        size($"lines").cast("long").as("n_lines"),
        size($"kept").cast("long").as("n_kept"),
        length(array_join($"kept", "\n")).cast("long").as("n_chars"),
        md5(array_join($"kept", "\n").cast("binary")).as("text_md5"))
      .orderBy($"doc_id")
  }

  /** Oracle: the same constructed page, the scan replayed as a
    * regexp_replace chain (anchors → sentinels, block tags → newlines,
    * generic tag strip, entity decode with &amp; last), then identical
    * per-line integer math over the split lines. */
  val q135Sql: String = {
    val LO = "chr(17)"
    val LC = "chr(18)"
    val block = "p|div|h[1-6]|li|br|tr|td|ul|ol|table|section|article|" +
      "header|footer|blockquote|pre"
    s"""WITH h AS (
       |  SELECT doc_id,
       |    '<html><head><title>' || source || ' ' || CAST(doc_id AS VARCHAR)
       |    || '</title><style>p{margin:0}</style>'
       |    || '<script>var x=1; if(x<2){x=3;}</script></head><body><h1>'
       |    || source || '</h1><p>'
       |    || replace(text, ' table ', '</p><p>')
       |    || '</p><p>Terms &amp; conditions apply to &lt;everyone&gt; here</p>'
       |    || '<div><a href="/home">Home</a> <a href="/next">Next</a></div>'
       |    || '<p>Contact us</p></body></html>' AS html
       |  FROM documents),
       |x AS (
       |  SELECT doc_id,
       |    replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(regexp_replace(regexp_replace(
       |        html,
       |        '<!--.*?-->', '', 'g'),
       |        '<script(\\s[^>]*)?>.*?</script[^>]*>', '', 'g'),
       |        '<style(\\s[^>]*)?>.*?</style[^>]*>', '', 'g'),
       |        '<a(\\s[^>]*)?>', $LO, 'g'),
       |        '</a(\\s[^>]*)?>', $LC, 'g'),
       |        '</?($block)(\\s[^>]*)?/?>', chr(10), 'g'),
       |        '<[^>]*>', '', 'g'),
       |      '&lt;', '<') AS t1
       |  FROM h),
       |x2 AS (
       |  SELECT doc_id,
       |    replace(replace(replace(replace(replace(replace(
       |      t1, '&gt;', '>'), '&quot;', '"'), '&apos;', chr(39)),
       |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS xt
       |  FROM x),
       |l AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split(xt, chr(10)),
       |      s -> trim(regexp_replace(s, ' +', ' ', 'g'))), s -> s <> '') AS lines
       |  FROM x2),
       |k AS (
       |  SELECT doc_id, lines,
       |    list_transform(list_filter(lines,
       |      s -> len(list_filter(string_split(
       |             replace(replace(s, $LO, ''), $LC, ''), ' '),
       |             w -> w <> '')) >= $MinLineWords
       |        AND 2 * (len(replace(replace(s, $LO, ''), $LC, ''))
       |          - len(replace(replace(regexp_replace(s,
       |              $LO || '[^' || $LC || ']*' || $LC, '', 'g'),
       |              $LO, ''), $LC, '')))
       |          <= len(replace(replace(s, $LO, ''), $LC, ''))),
       |      s -> replace(replace(s, $LO, ''), $LC, '')) AS kept
       |  FROM l)
       |SELECT doc_id,
       |  CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  CAST(len(COALESCE(list_aggr(kept, 'string_agg', chr(10)), '')) AS BIGINT) AS n_chars,
       |  md5(COALESCE(list_aggr(kept, 'string_agg', chr(10)), '')) AS text_md5
       |FROM k ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q139_source_drift"       -> (q139SourceDrift _),
    "q136_unigram_segment"    -> (q136UnigramSegment _),
    "q135_html_extract"       -> sortSharedQuery(q135HtmlExtract _),
    "q134_nfc_normalize"      -> (q134NfcNormalize _),
    "q132_wordpiece_encode"   -> (q132WordpieceEncode _),
    "q127_bpe_encode"         -> (q127BpeEncode _),
    "q122_bpe_merges"         -> (q122BpeMerges _),
    "q109_budget_select"      -> (q109BudgetSelect _),
    "q107_quality_classifier" -> sortSharedQuery(q107QualityClassifier _),
    "q105_span_corruption"  -> sortSharedQuery(q105SpanCorruption _),
    "q103_symbol_filter"    -> (q103SymbolFilter _),
    "q98_encoding_filter"   -> (q98EncodingFilter _),
    "q97_chunk_overlap"     -> (q97ChunkOverlap _),
    "q85_temperature_mix"   -> (q85TemperatureMix _),
    "q91_lm_quality"        -> (q91LmQualityFilter _),
    "q78_repetition_ratio"  -> sortSharedQuery(q78RepetitionRatio _),
    "q80_pii_redact"        -> (q80PiiRedact _),
    "q81_source_quota"      -> (q81SourceQuota _),
    "q149_adaptive_gate"    -> (q149AdaptiveGate _),
    "q150_mad_outliers"     -> (q150MadOutliers _),
    "q153_gk_gate"          -> (q153GkGate _),
    "q157_gate_stream_dual" -> (q157GateStreamDual _),
    "q158_ccnet_buckets"    -> (q158CcnetBuckets _),
    "q159_dsir_weights"     -> sortSharedQuery(q159DsirWeights _),
    "q160_gk_stream_dual"   -> sortSharedQuery(q160GkGateStreamDual _),
    "q168_adaptive_gate_dual" -> (q168AdaptiveGateDual _),
    "q169_drift_dual"       -> (q169DriftDual _),
    "q161_clf_auc"          -> sortSharedQuery(q161ClfAuc _),
    "q162_gate_agreement"   -> sortSharedQuery(q162GateAgreement _),
    "q165_calibration"      -> (q165CalibrationTable _),
    "q166_source_agreement" -> (q166SourceAgreement _),
    "q167_mixture_plan"     -> (q167MixturePlan _),
    "q63_vocab_build"       -> (q63VocabBuild _),
    "q64_bm25"              -> (q64Bm25 _),
    "q65_chunk_pack"        -> (q65ChunkPack _),
    "q70_feature_hash"      -> (q70FeatureHash _),
    "q71_bigram_lm"         -> (q71BigramLm _),
    "q20_text_stats"        -> (q20TextStats _),
    "q21_text_quality"      -> sortSharedQuery(q21TextQuality _),
    "q22_lang_id"           -> (q22LangId _),
    "q23_token_regex_count" -> (q23TokenRegexCount _),
    "q56_stratified_split"  -> (q56StratifiedSplit _),
    "q57_tfidf_topterms"    -> (q57TfIdf _),
  )

  val oracleSql: Map[String, String] = Map(
    "q161_clf_auc"            -> q161Sql,
    "q162_gate_agreement"     -> q162Sql,
    "q165_calibration"        -> q165Sql,
    "q166_source_agreement"   -> q166Sql,
    "q167_mixture_plan"       -> q167Sql,
    "q139_source_drift"       -> q139Sql,
    "q136_unigram_segment"    -> q136Sql,
    "q135_html_extract"       -> q135Sql,
    "q134_nfc_normalize"      -> q134Sql,
    "q132_wordpiece_encode"   -> q132Sql,
    "q127_bpe_encode"         -> q127Sql,
    "q122_bpe_merges"         -> q122Sql,
    "q109_budget_select"      -> q109Sql,
    "q107_quality_classifier" -> q107Sql,
    "q105_span_corruption"  -> q105Sql,
    "q103_symbol_filter"    -> q103Sql,
    "q98_encoding_filter"   -> q98Sql,
    "q97_chunk_overlap"     -> q97Sql,
    "q85_temperature_mix"   -> q85Sql,
    "q91_lm_quality"        -> q91Sql,
    "q78_repetition_ratio"  -> q78Sql,
    "q80_pii_redact"        -> q80Sql,
    "q81_source_quota"      -> q81Sql,
    "q149_adaptive_gate"    -> q149Sql,
    "q150_mad_outliers"     -> q150Sql,
    "q153_gk_gate"          -> q153Sql,
    "q157_gate_stream_dual" -> q157Sql,
    "q158_ccnet_buckets"    -> q158Sql,
    "q159_dsir_weights"     -> q159Sql,
    "q160_gk_stream_dual"   -> q160Sql,
    "q168_adaptive_gate_dual" -> q168Sql,
    "q169_drift_dual"       -> q169Sql,
    "q63_vocab_build"       -> q63Sql,
    "q64_bm25"              -> q64Sql,
    "q65_chunk_pack"        -> q65Sql,
    "q70_feature_hash"      -> q70Sql,
    "q71_bigram_lm"         -> q71Sql,
    "q20_text_stats"        -> q20Sql,
    "q21_text_quality"      -> q21Sql,
    "q22_lang_id"           -> q22Sql,
    "q23_token_regex_count" -> q23Sql,
    "q56_stratified_split"  -> q56Sql,
    "q57_tfidf_topterms"    -> q57Sql,
  )
}
