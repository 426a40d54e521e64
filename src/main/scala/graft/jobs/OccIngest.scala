package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Bucketing
import graft.queries.DedupQueries

/** Occurrence-frame-at-ingest for the dedup/text family — the third
  * member of the materialize-at-ingest trio ([[CodesIngest]] for ANN
  * codes, [[GraphIngest]] for graph state): persist the tagged corpus
  * gram-occurrence frame (doc_id, kind, h) — kind 0 = distinct 3-token
  * shingles, kind 1 = positional 5-grams, h = the 60-bit md5 key — as a
  * doc_id-bucketed table, so a FRESH process serving
  * q25/q26/q29/q83/q88/q100/q151 pays one bucketed code-column scan
  * instead of re-tokenizing the corpus text (the round-12 finding the
  * session memo closed within a process, made durable across
  * processes).
  *
  * [[DedupQueries.taggedOccCorpus]] reads through the table when it
  * exists; absent, the memoized text mint runs as before
  * (rebuild-if-absent — the table is derived and deterministic, so the
  * two paths yield identical rows; OccMemoSpec pins the equality and
  * the no-text-scan warm path). The table read is NOT checkpointed: at
  * 100 TB the occurrence frame is corpus-occurrence-sized, and the
  * bucketed parquet scan (~17 B/row, column-pruned) IS the cheap form —
  * pinning it in executor memory would be the mistake.
  *
  * At 100 TB ingest is one tokenization pass per load; bucketing by
  * doc_id co-locates the frame with any doc-keyed table (the per-doc
  * aggregations q25/q29 run shuffle-partial over the buckets). */
object OccIngest {

  val Buckets = 8

  def tablePrefix(dir: String): String = Bucketing.corpusPrefix("occ", dir)

  def occTable(dir: String): String = s"${tablePrefix(dir)}_tagged"

  /** Positive-only per-(session, dir) cache of the existence check —
    * [[DedupQueries.taggedOccCorpus]] runs on every consumer query
    * construction, and an uncached `tableExists` there is a per-query
    * catalog RPC against the external metastore the 100 TB deployment
    * targets (round-13 review). Positive-only because a table, once
    * seen, is only removed by [[drop]] (which invalidates); a NEGATIVE
    * result must stay uncached so an ingest later in the session
    * becomes visible. WeakHashMap on the session (the FrameMemo
    * convention) so the cache cannot pin a dead session. */
  private val known =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Set[String]]()

  private[graft] def tableKnown(s: SparkSession, dir: String): Boolean =
    known.synchronized {
      var set = known.get(s)
      if (set == null) { set = scala.collection.mutable.Set(); known.put(s, set) }
      set.contains(dir) || {
        val exists = s.catalog.tableExists(occTable(dir))
        if (exists) set += dir
        exists
      }
    }

  /** Ingest `dir`'s tagged occurrence frame; returns the table name.
    * Idempotent per session (the CodesIngest rationale — concurrent
    * rebuilds would race DROP+CTAS against readers; reuse is the
    * production read path). Builds THROUGH the session memo so the
    * writer and any queries already run share one tokenization; the
    * memo frame is a localCheckpoint over the TEXT (never over this
    * table), so writing after the DROP below cannot scan deleted
    * files. */
  def ingest(s: SparkSession, dir: String): String = OccIngest.synchronized {
    val t = occTable(dir)
    if (s.catalog.tableExists(t)) t
    else graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
      // a crash in a rewrite's drop window leaves the table ABSENT with
      // the certified staging parked — heal recovers it instead of the
      // full re-ingest (and instead of dropAll destroying the staging)
      graft.io.StagedRewrite.heal(s, t)
      if (s.catalog.tableExists(t)) t
      else {
        val occ = DedupQueries.taggedOccCorpusFromText(s, dir)
        graft.io.StagedRewrite.dropAll(s, t) // incl. stale rewrite residue
        Bucketing.writeBucketed(occ, t, "doc_id", Buckets)
        t
      }
    }
  }

  /** Incremental ingest (VERDICT r13 item 1): tokenize ONLY a batch of
    * NEW (doc_id, text) docs — the day's corpus growth — and append
    * their occurrence rows bucket-aligned into the table, so the dedup
    * family's durable state advances without the full re-tokenizing
    * re-ingest [[ingest]] pays. The [[CodesIngest.appendBatch]] contract
    * applied to the occurrence frame:
    *
    *  - the encoder is FROZEN by construction — the mint is a pure
    *    expression ([[DedupQueries.taggedOccForDocs]], the same
    *    expression the base ingest ran), so merged table ≡ full
    *    re-ingest row-for-row (OccMemoSpec pins it);
    *  - replay idempotency is a doc_id anti-join: delivery is
    *    at-least-once in any real pipeline, and occurrence rows are NOT
    *    unique per row (a doc repeats a shingle key across kinds), so
    *    idempotency must be DOC-level — a doc already in the table
    *    contributes nothing. Scan cost is the stored doc_id column only
    *    (pruned, bucketed);
    *  - the batch lands via [[Bucketing.appendBucketed]], so appended
    *    rows join exchange-free with the base buckets.
    *
    * The minted increment is checkpointed before the append so the
    * write job never scans the table it is appending to. Callers grow
    * the corpus dir with the same docs (new parquet files landing in
    * `dir` is the daily-growth model); the session TEXT memo of a
    * pre-growth mint is stale after that — pair external growth with
    * [[DedupQueries.clearMemos]] in-session, or a fresh process simply
    * reads the (authoritative) table. */
  def appendBatch(s: SparkSession, dir: String, newDocs: DataFrame): Unit =
    OccIngest.synchronized {
      graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
      import s.implicits._
      val t = occTable(dir)
      graft.io.StagedRewrite.heal(s, t) // recover a parked delete/compact
      require(s.catalog.tableExists(t),
        s"appendBatch needs an ingested base table: $t")
      // intra-batch dedup with conflict fail-fast (ADVICE r14), then the
      // doc-level anti-join; EAGER checkpoint so the mint below never
      // scans the table the write appends to — a lazy checkpoint would
      // defer that scan into the append job itself (ADVICE r14)
      val fresh = IngestGuards.dedupBatch(newDocs, "doc_id", "text")
        .join(s.table(t).select($"doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val occ = DedupQueries.taggedOccForDocs(s, fresh)
      Bucketing.appendBucketed(occ, t, "doc_id", Buckets)
      }
    }

  /** STREAMING face of the incremental ingest (the
    * [[CodesIngest.appendStreamBounded]] shape on the occurrence
    * table): new document batches landing in a drop dir flow through
    * [[appendBatch]] via [[IngestGuards.appendStream]], so the dedup
    * family's durable state grows while staying readable. Idempotency
    * comes from appendBatch's DOC-level anti-join, so a replayed
    * micro-batch appends nothing. */
  def appendStreamBounded(s: SparkSession, dir: String, dropGlob: String,
      checkpoint: String): Unit =
    IngestGuards.appendStream(s, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
      dropGlob, checkpoint, occTable(dir))(
      batch => appendBatch(batch.sparkSession, dir, batch))

  /** DELETE documents from the persisted occurrence frame (VERDICT r14
    * item 1: GDPR takedown / licensing retraction is routine at 100 TB,
    * and an append-only table answers it only with a full re-ingest).
    * One bucket-aligned anti-join rewrite of the table against the
    * (small, broadcast) deletion list, committed under
    * [[graft.io.StagedRewrite]]'s marker discipline — a crash anywhere
    * leaves the old or the new table, never a partial one. delete ≡
    * re-ingest-without-the-docs (the mint is per-doc, so dropping a
    * doc's rows IS what a reduced re-ingest writes — OccMemoSpec pins
    * it), and a replayed delete anti-joins nothing, so it rewrites the
    * identical table (no-op on values).
    *
    * Scale: one bucketed scan + one bucket-aligned write, no shuffle
    * (the deletion list broadcasts; the staged frame re-lands on the
    * same murmur3 buckets) — and the rewrite doubles as a file-count
    * compaction. Callers remove the same docs from the corpus dir
    * (growth model in reverse); in-session text memos of the pre-delete
    * corpus are stale after that — pair with
    * [[DedupQueries.clearMemos]], or a fresh process reads the table. */
  def deleteDocs(s: SparkSession, dir: String, docIds: DataFrame): Unit =
    OccIngest.synchronized {
      graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
        IngestGuards.deleteRewrite(s, occTable(dir), "doc_id", Buckets, docIds)
      }
    }

  /** [[StateFsck]]'s remedy on this family: heal protocol residue, then
    * rewrite the table keeping only rows the ENGINE could have written —
    * kind ∈ {0, 1} (null padding rows kept: gram-less docs legitimately
    * carry one), h inside 60 bits, doc_id present in the corpus. A
    * domain-invalid row cannot have come from the mint, so removing it
    * RESTORES ingest equivalence rather than breaking it; a referential
    * orphan is exactly what [[deleteDocs]] would remove on a missed
    * takedown. No-op on an absent table. */
  def scrub(s: SparkSession, dir: String): Unit = OccIngest.synchronized {
    graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
      IngestGuards.scrubRewrite(s, occTable(dir), "doc_id", Buckets) { df =>
        val corpus = graft.Tables.documents(s, dir).select(col("doc_id"))
        df.where((col("kind").isNull || col("kind").isin(0, 1)) &&
            (col("h").isNull || (col("h") >= 0L && col("h") < (1L << 60))))
          .join(corpus, Seq("doc_id"), "left_semi")
      }
    }
  }

  /** Collapse the table's accumulated append files to one file per
    * bucket (VERDICT r14 item 2) — a row-identical [[graft.io
    * .StagedRewrite]] pass. */
  def compact(s: SparkSession, dir: String): Unit = OccIngest.synchronized {
    graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
      IngestGuards.compactRewrite(s, occTable(dir), "doc_id", Buckets)
    }
  }

  /** Drop the persisted occurrence frame of `dir` (test hook) and
    * invalidate the existence cache — across EVERY live session, not
    * just the dropping one: the table is global catalog/warehouse
    * state, so another session's cached positive would keep routing
    * reads at deleted files (round-13 advice). Cross-PROCESS sharing of
    * one external metastore is still out of scope: a drop here cannot
    * reach another JVM's cache — the read-through contract assumes one
    * writer process per warehouse (the deployment the ingest jobs
    * document). The session memo is left alone: it only ever holds
    * TEXT-minted frames (never a scan of this table), so it stays
    * valid — and reusable — across a drop. */
  def drop(s: SparkSession, dir: String): Unit = OccIngest.synchronized {
    graft.io.WriterLease.withLease(s, tablePrefix(dir)) {
      graft.io.StagedRewrite.dropAll(s, occTable(dir))
    }
    known.synchronized {
      val it = known.values().iterator()
      while (it.hasNext) it.next() -= dir
    }
  }
}
