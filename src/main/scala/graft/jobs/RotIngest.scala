package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.Bucketing
import graft.queries.SimilarityQueries

/** Learned-rotation codes at ingest — q118's materialize-at-write
  * pattern on the q152 tier, closing the q152 scaladoc's "at ingest the
  * rotated codes are a stored column" promise.
  *
  * Four tables per corpus:
  *  - `<prefix>_codes` — (vec_id, codes, pq) BUCKETED by vec_id, where
  *    `codes` are the GLOBAL-scale SQ8 codes of the ROTATED embedding
  *    (eigenvalue-allocated PCA basis) and `pq` the trained subspace
  *    assignments; search reads pq for the scan and the pushed-filter
  *    query rows' codes for LUTs, exactly the q118 read shape.
  *  - `<prefix>_codebook` — the trained (m, k, cent) codebook.
  *  - `<prefix>_model` — the learned rotation itself: (j, brow) basis
  *    rows. d rows of d doubles — KB. Persisting the MODEL is what
  *    makes the stored index AUDITABLE: a verifier re-encodes with the
  *    stored basis and must reproduce the stored ranking
  *    integer-for-integer (q155's stored_ok verdict); re-LEARNING the
  *    basis instead would compare against a second eigensolve whose
  *    covariance fold carries ~1e-12 partition-order jitter — enough to
  *    flip an SQ8 cell at a floor boundary and fail spuriously.
  *  - `<prefix>_stats` — 1 row: the global (glo, ghi) quantizer range
  *    and the centering mean μ (stored RAW, not as derived shifts, so
  *    the read-back model recomputes shifts through the identical
  *    driver-side fold — bit-exact round trip).
  *
  * At 100 TB ingest is one covariance fold (a ~17 KB driver buffer) +
  * one rotate-and-encode pass + the PQ training aggregates; search
  * never touches the float corpus, and increments ([[appendBatch]])
  * encode against the STORED model without retraining anything. */
object RotIngest {

  val Buckets = 8

  def tablePrefix(dir: String): String = Bucketing.corpusPrefix("rot", dir)

  def codesTable(dir: String): String = s"${tablePrefix(dir)}_codes"
  def codebookTable(dir: String): String = s"${tablePrefix(dir)}_codebook"
  def modelTable(dir: String): String = s"${tablePrefix(dir)}_model"
  def statsTable(dir: String): String = s"${tablePrefix(dir)}_stats"

  private def tables(prefix: String): Seq[String] =
    Seq(s"${prefix}_codes", s"${prefix}_codebook", s"${prefix}_model",
      s"${prefix}_stats")

  /** Ingest `dir`'s embeddings; returns (codesTable, codebookTable).
    * Idempotent per session (the CodesIngest rationale: concurrent
    * rebuilds would race DROP+CTAS against other readers, and reuse is
    * the production read path). */
  def ingest(s: SparkSession, dir: String): (String, String) =
    ingestFrame(s, Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      tablePrefix(dir))

  /** Ingest an arbitrary (vec_id, embedding) frame under `prefix` —
    * the [[CodesIngest.ingestFrame]] shape (specs drive base/increment
    * splits through it). The frame must contain the codebook seed rows
    * (vec_id < [[SimilarityQueries.PqK]], q111's seeding rule);
    * increments via [[appendBatch]] have no such constraint. */
  private[graft] def ingestFrame(s: SparkSession, emb: DataFrame,
      prefix: String): (String, String) =
    RotIngest.synchronized {
      val all = tables(prefix)
      if (all.forall(s.catalog.tableExists)) (all(0), all(1))
      else graft.io.WriterLease.withLease(s, prefix) {
        // a parked delete/compact may be the only reason codes are
        // absent — heal instead of re-learning the whole model
        graft.io.StagedRewrite.heal(s, all(0))
        if (all.forall(s.catalog.tableExists)) (all(0), all(1))
        else buildTables(s, emb, prefix)
      }
    }

  private def buildTables(s: SparkSession, embIn: DataFrame,
      prefix: String): (String, String) = {
    import s.implicits._
    val Seq(codesT, cbT, modelT, statsT) = tables(prefix)
    val emb = embIn.localCheckpoint(false)
    val model = SimilarityQueries.opqLearnedModel(s, emb)
    val (vals, basis, mu) = model
    val rotated = SimilarityQueries.pcaRotate(s, emb, model)
      .localCheckpoint(false)
    val stats = SimilarityQueries.sq8GlobalStats(rotated).localCheckpoint(false)
    val codes = SimilarityQueries.sq8EncodeGlobal(rotated, stats)
      .localCheckpoint(false)
    val sub = SimilarityQueries.subcodeView(s, codes)
    val cents = SimilarityQueries.pqTrainCodebook(s, sub).localCheckpoint(false)
    val pq = SimilarityQueries.pqEncodeCodes(s, sub, cents)
    graft.io.StagedRewrite.dropAll(s, codesT) // incl. stale rewrite residue
    tables(prefix).drop(1).foreach(Bucketing.dropManaged(s, _))
    Bucketing.writeBucketed(codes.join(pq, Seq("vec_id"))
      .select($"vec_id", $"codes", $"pq"), codesT, "vec_id", Buckets)
    cents.write.mode("overwrite").format("parquet").saveAsTable(cbT)
    basis.indices
      .map(j => (j, basis(j).toSeq, vals(j)))
      .toDF("j", "brow", "eigval")
      .write.mode("overwrite").format("parquet").saveAsTable(modelT)
    stats.withColumn("mu", typedLit(mu.toSeq))
      .write.mode("overwrite").format("parquet").saveAsTable(statsT)
    (codesT, cbT)
  }

  /** Incremental ingest on the LEARNED tier (VERDICT r13 item 3):
    * encode a batch of NEW (vec_id, embedding) rows against the STORED
    * model — basis and centering via [[readModelPrefix]], global (glo,
    * ghi) range from the stats table, subspace assignment against the
    * stored codebook; nothing is re-learned (the index contract the
    * q155 scaladoc states: the stored model IS the encoder) — and
    * append them bucket-aligned so co-located joins stay exchange-free
    * across increments. [[CodesIngest.appendBatch]]'s frozen-stats
    * shape applied to the rotated tier:
    *
    *  - replay idempotency: a vec_id anti-join against the stored codes
    *    (at-least-once delivery appends nothing on redelivery); scan
    *    cost is the stored vec_id column only (pruned, bucketed);
    *  - drift clamps: rotated values outside the frozen global [lo, hi]
    *    clamp to [0, [[SimilarityQueries.Sq8Levels]]] — the FAISS
    *    ScalarQuantizer behavior; in-range values encode identically to
    *    the base pass (the floor is ≤ Sq8Levels by construction), so
    *    append ≡ frozen full encode row-for-row (RotAppendSpec pins it);
    *  - PQ assignment is an argmin over the stored centroids —
    *    well-defined for any input.
    *
    * Re-ingest (rebuild) when drift makes the frozen rotation/range
    * unrepresentative — same judgement call as the base tier. */
  def appendBatch(s: SparkSession, newEmb: DataFrame, prefix: String): Unit =
    RotIngest.synchronized {
      graft.io.WriterLease.withLease(s, prefix) {
      import s.implicits._
      val Seq(codesT, cbT, modelT, statsT) = tables(prefix)
      graft.io.StagedRewrite.heal(s, codesT) // recover a parked delete/compact
      require(tables(prefix).forall(s.catalog.tableExists),
        s"appendBatch needs an ingested base (codes/codebook/model/stats): $prefix")
      // intra-batch dedup with conflict fail-fast (ADVICE r14) before
      // the stored-table anti-join; EAGER checkpoint so the rotate/
      // encode/append pipeline never scans the table it appends to
      val fresh = IngestGuards.dedupBatch(newEmb, "vec_id", "embedding")
        .join(s.table(codesT).select($"vec_id"), Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      val rotated = SimilarityQueries.pcaRotate(s, fresh, readModelPrefix(s, prefix))
      val stats = s.table(statsT).select($"glo", $"ghi")
      val codes = SimilarityQueries.sq8EncodeGlobal(rotated, stats)
        .select($"vec_id", transform($"codes", c =>
          least(greatest(c, lit(0L)), lit(SimilarityQueries.Sq8Levels.toLong)))
          .as("codes"))
        .localCheckpoint(false)
      val pq = SimilarityQueries.pqEncodeCodes(s,
        SimilarityQueries.subcodeView(s, codes), s.table(cbT))
      Bucketing.appendBucketed(
        codes.join(pq, Seq("vec_id")).select($"vec_id", $"codes", $"pq"),
        codesT, "vec_id", Buckets)
      }
    }

  /** DELETE vectors from the learned-tier codes table (VERDICT r14
    * item 1) — [[CodesIngest.deleteVecs]] on the rotated tier: one
    * bucket-aligned anti-join rewrite under [[graft.io.StagedRewrite]].
    * The model/stats/codebook tables stay (frozen encoder, never
    * retrained by deletions); rows encode independently, so delete ≡
    * re-ingest-without-the-vectors under the SAME stored model
    * (RotAppendSpec pins it), and a replayed delete is the identity. */
  def deleteVecs(s: SparkSession, vecIds: DataFrame, prefix: String): Unit =
    RotIngest.synchronized {
      graft.io.WriterLease.withLease(s, prefix) {
        IngestGuards.deleteRewrite(s, s"${prefix}_codes", "vec_id", Buckets,
          vecIds)
      }
    }

  /** Collapse accumulated append files to one per bucket (VERDICT r14
    * item 2) — a row-identical [[graft.io.StagedRewrite]] pass. */
  def compact(s: SparkSession, prefix: String): Unit =
    RotIngest.synchronized {
      graft.io.WriterLease.withLease(s, prefix) {
        IngestGuards.compactRewrite(s, s"${prefix}_codes", "vec_id", Buckets)
      }
    }

  /** [[StateFsck]]'s remedy on the learned tier —
    * [[CodesIngest.scrubCodesRows]]'s transform over this family's
    * codes table (same shape, same invariants). No-op when absent. */
  def scrub(s: SparkSession, dir: String): Unit = RotIngest.synchronized {
    graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
      IngestGuards.scrubRewrite(s, codesTable(dir), "vec_id", Buckets)(
        CodesIngest.scrubCodesRows(s, dir))
    }
  }

  /** STREAMING face of the frozen-model increment (the
    * [[CodesIngest.appendStreamBounded]] shape on the learned tier):
    * new embedding batches landing in a drop dir flow through
    * [[appendBatch]] via [[IngestGuards.appendStream]], idempotent
    * through the vec_id anti-join. */
  def appendStreamBounded(s: SparkSession, dropGlob: String,
      prefix: String, checkpoint: String): Unit =
    IngestGuards.appendStream(s, CodesIngest.dropSchema, dropGlob, checkpoint,
      s"${prefix}_codes")(batch => appendBatch(batch.sparkSession, batch, prefix))

  /** Read the stored rotation back as a [[SimilarityQueries.pcaRotate]]
    * model (KB collect — d rows of d doubles). Eigenvalues are stored
    * and returned REAL, in the permuted order: a zero stand-in would be
    * a silent trap for any consumer that re-derives the subspace
    * allocation from model._1 (round-13 review finding). */
  def readModel(s: SparkSession, dir: String)
      : (Array[Double], Array[Array[Double]], Array[Double]) =
    readModelPrefix(s, tablePrefix(dir))

  private[graft] def readModelPrefix(s: SparkSession, prefix: String)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    import s.implicits._
    val rows = s.table(s"${prefix}_model")
      .select($"j", $"brow", $"eigval").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val mu = s.table(s"${prefix}_stats").select($"mu").head()
      .getSeq[Double](0).toArray
    (rows.map(_._3), rows.map(_._2), mu)
  }
}
