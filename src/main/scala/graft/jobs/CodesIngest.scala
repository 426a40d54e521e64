package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.Tables
import graft.io.Bucketing
import graft.queries.SimilarityQueries

/** Codes-at-ingest for the ANN family (VERDICT r10 item 3): materialize
  * the quantized representations ONCE, at load time, so every search
  * touches only code bytes — never the float corpus.
  *
  * Two tables per corpus:
  *  - `<prefix>_codes` — (vec_id, codes[64] SQ8, pq[8], w0/w1 packed
  *    bits) BUCKETED by vec_id ([[graft.io.Bucketing]]): the pq column
  *    is 8 small ints/row (the 32× byte reduction vs floats the ADC
  *    scan rides — parquet column pruning means an ADC query reads ONLY
  *    vec_id+pq); the codes column serves query-side LUT builds (pruned
  *    to the query rows by a vec_id pushdown) and SQ8 rescoring; w0/w1
  *    are q128's two 32-bit binary sign words (16 B/row — the Hamming
  *    scan tier, q130, reads ONLY vec_id+w0+w1).
  *  - `<prefix>_codebook` — the trained (m, k, cent) PQ codebook, M·K
  *    rows, broadcast by every consumer.
  *
  * Training/encode reuse q111's machinery verbatim (integer-exact), so a
  * scan over the stored codes reproduces q111's in-plan ranking bit for
  * bit — which is how q118 gets a value-level oracle on an INGESTED
  * index. At 100 TB ingest is one pass over the float corpus per load;
  * bucketing by vec_id co-locates codes with any other vec_id-bucketed
  * per-document table for exchange-free joins.
  */
object CodesIngest {

  val Buckets = 8

  /** Stable per-corpus table prefix — [[Bucketing.corpusPrefix]]'s
    * injective sanitize+md5 naming (one corpus dir = one table set). */
  def tablePrefix(dir: String): String = Bucketing.corpusPrefix("emb", dir)

  /** Ingest the embeddings table of `dir`; returns (codesTable,
    * codebookTable). Idempotent — a pair already in this session's
    * catalog is reused (same dir ⇒ same tables); a fresh session
    * rebuilds over any stale on-disk location. */
  def ingest(s: SparkSession, dir: String): (String, String) =
    ingestFrame(s, Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      tablePrefix(dir))

  /** Ingest an arbitrary (vec_id, embedding) frame under `prefix`. The
    * frame must contain the codebook seed rows (vec_id <
    * [[SimilarityQueries.PqK]] — q111's seeding rule, kept a map-only
    * filter rather than a rank so training never adds a corpus-sized
    * shuffle); increments arriving later via [[appendBatch]] have no
    * such constraint.
    *
    * Serialized on a JVM-wide lock, and a table pair already present in
    * THIS session's catalog is reused rather than rebuilt: the prefix is
    * a pure function of the corpus dir, so a rebuild would produce the
    * identical tables — while concurrent rebuilds (the Bench multi-
    * stream mode runs q118 on four threads; review finding) raced a
    * DROP+delete+CTAS against other streams' scans of the same
    * location. Reuse is also the production read path: search-time cost
    * excludes ingest. A stale on-disk location from a PREVIOUS JVM
    * (catalog empty) still takes the rebuild branch below. */
  def ingestFrame(s: SparkSession, emb: DataFrame, prefix: String): (String, String) =
    CodesIngest.synchronized {
      val (codesT, cbT) = (s"${prefix}_codes", s"${prefix}_codebook")
      if (s.catalog.tableExists(codesT) && s.catalog.tableExists(cbT))
        (codesT, cbT)
      else graft.io.WriterLease.withLease(s, prefix) {
        // a parked delete/compact may be the only reason codesT is
        // absent — heal instead of retraining the whole index
        graft.io.StagedRewrite.heal(s, codesT)
        if (s.catalog.tableExists(codesT) && s.catalog.tableExists(cbT))
          (codesT, cbT)
        else buildTables(s, emb, codesT, cbT)
      }
    }

  /** Frozen-encoder state: the 1-row per-dim lo/hi stats table written
    * beside the codes — incremental appends encode against THESE stats
    * (and the stored codebook), never retraining. */
  def statsTable(prefix: String): String = s"${prefix}_stats"

  private def buildTables(s: SparkSession, emb: DataFrame,
      codesT: String, cbT: String): (String, String) = {
    import s.implicits._
    val stats = SimilarityQueries.sq8Stats(emb).localCheckpoint(false)
    val codes = SimilarityQueries.sq8Encode(emb, stats).localCheckpoint(false)
    val subcodes = SimilarityQueries.subcodeView(s, codes)
    val cents = SimilarityQueries.pqTrainCodebook(s, subcodes).localCheckpoint(false)
    val pq = SimilarityQueries.pqEncodeCodes(s, subcodes, cents)
    graft.io.StagedRewrite.dropAll(s, codesT) // incl. stale rewrite residue
    Seq(cbT, statsTable(codesT.stripSuffix("_codes")))
      .foreach(graft.io.Bucketing.dropManaged(s, _))
    val words = SimilarityQueries.binEncode(emb, stats)
    Bucketing.writeBucketed(
      codes.join(pq, Seq("vec_id")).join(words, Seq("vec_id"))
        .select($"vec_id", $"codes", $"pq", $"w0", $"w1"),
      codesT, "vec_id", Buckets)
    cents.write.mode("overwrite").format("parquet").saveAsTable(cbT)
    stats.write.mode("overwrite").format("parquet")
      .saveAsTable(statsTable(codesT.stripSuffix("_codes")))
    (codesT, cbT)
  }

  /** Incremental ingest: encode a batch of NEW (vec_id, embedding) rows
    * with the FROZEN encoder state (stored stats + codebook — the
    * standard ANN-index contract: the trainer is fixed at build time,
    * increments only encode) and append them to the bucketed codes
    * table, where they land in the right buckets so co-located joins
    * stay exchange-free across increments.
    *
    * SQ8 codes of drifted values (outside the frozen per-dim [lo, hi])
    * clamp to [0, 255] — the FAISS ScalarQuantizer behavior; binary
    * bits and PQ assignment are comparisons/argmins, well-defined for
    * any input. Re-ingest (rebuild) when drift makes the frozen stats
    * unrepresentative. */
  def appendBatch(s: SparkSession, newEmb: DataFrame, prefix: String): Unit =
    CodesIngest.synchronized {
      graft.io.WriterLease.withLease(s, prefix) {
      import s.implicits._
      val codesT = s"${prefix}_codes"
      graft.io.StagedRewrite.heal(s, codesT) // recover a parked delete/compact
      require(s.catalog.tableExists(codesT),
        s"appendBatch needs an ingested base table: $codesT")
      // ROW-LEVEL idempotency: foreachBatch is at-least-once and this
      // sink is not transactional, so a crash between the parquet append
      // and the streaming commit log replays the batch — an anti-join on
      // the (unique) vec_id makes the replay a no-op instead of a
      // duplicate. Scan cost is the stored vec_id column only (pruned),
      // co-located by the shared bucketing at scale.
      // intra-batch dedup with conflict fail-fast (ADVICE r14) before
      // the stored-table anti-join: the anti-join only screens against
      // the TABLE, so a repeated vec_id inside one batch would append
      // twice and rank the same neighbor twice downstream. EAGER
      // checkpoint: the encode/append pipeline below must never scan
      // the table the write appends to (materialize-before-mutate)
      val fresh = IngestGuards.dedupBatch(newEmb, "vec_id", "embedding")
        .join(s.table(codesT).select($"vec_id"),
        Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      val stats = broadcast(s.table(statsTable(prefix)))
      val cents = s.table(s"${prefix}_codebook")
      val codes = SimilarityQueries.sq8Encode(fresh, stats)
        .select($"vec_id", transform($"codes", c =>
          least(greatest(c, lit(0L)), lit(SimilarityQueries.Sq8Levels.toLong)))
          .as("codes"))
        .localCheckpoint(false)
      val pq = SimilarityQueries.pqEncodeCodes(s,
        SimilarityQueries.subcodeView(s, codes), cents)
      val words = SimilarityQueries.binEncode(fresh, stats)
      Bucketing.appendBucketed(
        codes.join(pq, Seq("vec_id")).join(words, Seq("vec_id"))
          .select($"vec_id", $"codes", $"pq", $"w0", $"w1"),
        codesT, "vec_id", Buckets)
      }
    }

  /** DELETE vectors from the stored codes table (VERDICT r14 item 1) —
    * the takedown path of the ANN family: one bucket-aligned anti-join
    * rewrite against the (small, broadcast) deletion list under
    * [[graft.io.StagedRewrite]]'s crash-safe commit. Codes are encoded
    * row-independently against the FROZEN stats/codebook, so delete ≡
    * re-ingest-without-the-vectors on the same frozen encoder
    * row-for-row (CodesAppendSpec pins it); a replayed delete rewrites
    * the identical table. The codebook/stats tables stay — they are the
    * frozen ENCODER, not per-row state (the standard ANN-index
    * contract: deletions never retrain). */
  def deleteVecs(s: SparkSession, vecIds: DataFrame, prefix: String): Unit =
    CodesIngest.synchronized {
      graft.io.WriterLease.withLease(s, prefix) {
        IngestGuards.deleteRewrite(s, s"${prefix}_codes", "vec_id", Buckets,
          vecIds)
      }
    }

  /** Collapse accumulated append files to one per bucket (VERDICT r14
    * item 2) — a row-identical [[graft.io.StagedRewrite]] pass. */
  def compact(s: SparkSession, prefix: String): Unit =
    CodesIngest.synchronized {
      graft.io.WriterLease.withLease(s, prefix) {
        IngestGuards.compactRewrite(s, s"${prefix}_codes", "vec_id", Buckets)
      }
    }

  /** [[StateFsck]]'s remedy on this family (dir-keyed tables): heal
    * protocol residue, then rewrite the codes table keeping one
    * deterministic row per vec_id (smallest full row — a duplicated
    * vec_id violates the append idempotency invariant, so at most one
    * copy is engine-written), pq codes inside [0, PqK), and only
    * vec_ids present in the embeddings table. No-op when absent. */
  def scrub(s: SparkSession, dir: String): Unit = CodesIngest.synchronized {
    graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
      IngestGuards.scrubRewrite(s, s"${tablePrefix(dir)}_codes", "vec_id",
        Buckets)(scrubCodesRows(s, dir))
    }
  }

  /** The codes-row validity transform shared by [[scrub]] and
    * [[RotIngest.scrub]] (same table shape on both tiers). */
  private[jobs] def scrubCodesRows(s: SparkSession, dir: String)(
      df: DataFrame): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir).select(col("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(df.columns.map(col): _*)
    df.join(emb, Seq("vec_id"), "left_semi")
      .where(!exists(col("pq"),
        x => x < 0 || x >= SimilarityQueries.PqK))
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Schema of the dropped embedding batches both vector tiers stream. */
  private[jobs] val dropSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = true)))

  /** STREAMING face of the incremental ingest: new embedding batches
    * landing in a drop dir flow through [[appendBatch]] via
    * [[IngestGuards.appendStream]] — the index stays searchable (and
    * exchange-free-joinable) while it grows. Idempotency comes from
    * [[appendBatch]]'s ROW-level vec_id anti-join, so a replayed
    * micro-batch appends nothing. */
  def appendStreamBounded(s: SparkSession, dropGlob: String,
      prefix: String, checkpoint: String): Unit =
    IngestGuards.appendStream(s, dropSchema, dropGlob, checkpoint, s"${prefix}_codes")(
      batch => appendBatch(batch.sparkSession, batch, prefix))
}
