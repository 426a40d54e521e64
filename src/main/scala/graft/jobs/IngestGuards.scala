package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.StagedRewrite

/** Shared guards for the incremental ingest paths ([[OccIngest]] /
  * [[CodesIngest]] / [[RotIngest]]). */
object IngestGuards {

  /** Takedown rewrite shared by every row-keyed family: HEAL any parked
    * rewrite FIRST — a crash in the drop window leaves the live table
    * missing with the certified staging parked, and a require placed
    * before the heal would lock the family out of its own recovery
    * (review r15) — then require the base, then anti-join-rewrite
    * against the (small, broadcast, eagerly checkpointed) id list. */
  private[jobs] def deleteRewrite(s: SparkSession, table: String,
      key: String, buckets: Int, ids: DataFrame): Unit = {
    StagedRewrite.heal(s, table)
    require(s.catalog.tableExists(table),
      s"delete needs an ingested base table: $table")
    val idsC = ids.select(col(key)).distinct().localCheckpoint(true)
    StagedRewrite.rewrite(s, table, key, buckets)(
      _.join(broadcast(idsC), Seq(key), "left_anti"))
  }

  /** Repair rewrite ([[StateFsck]]'s remedy): heal protocol residue,
    * then — if the table exists — rewrite it through `valid`, the
    * family's row-validity transform. Unlike delete/compact, an absent
    * table is a NO-OP, not an error: repair must be safe to run against
    * any warehouse state. */
  private[jobs] def scrubRewrite(s: SparkSession, table: String,
      key: String, buckets: Int)(valid: DataFrame => DataFrame): Unit = {
    StagedRewrite.heal(s, table)
    if (s.catalog.tableExists(table))
      StagedRewrite.rewrite(s, table, key, buckets)(valid)
  }

  /** Row-identical compaction rewrite (same heal-before-require order). */
  private[jobs] def compactRewrite(s: SparkSession, table: String,
      key: String, buckets: Int): Unit = {
    StagedRewrite.heal(s, table)
    require(s.catalog.tableExists(table),
      s"compact needs an ingested table: $table")
    StagedRewrite.rewrite(s, table, key, buckets)(identity)
  }

  /** The bounded streaming driver shared by every family's
    * `appendStreamBounded`: files dropped under `dropGlob` (read with
    * the explicit `schema`, one file per trigger — one append per dropped
    * file) flow through `append` via foreachBatch, skipping empty
    * batches. Delivery is at-least-once (foreachBatch + a
    * non-transactional sink), so `append` must be idempotent. It
    * processes everything available, then stops the query in a finally,
    * so a poisoned batch can't leak a live query holding the checkpoint,
    * and refreshes `table`: the appends ran in foreachBatch's CLONED
    * session, so the outer session's cached file listing must be
    * dropped for its readers to see them. */
  private[jobs] def appendStream(s: SparkSession, schema: StructType,
      dropGlob: String, checkpoint: String, table: String)(
      append: DataFrame => Unit): Unit = {
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dropGlob)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) append(batch)
      }
      .start()
    try q.processAllAvailable()
    finally {
      q.stop()
      s.catalog.refreshTable(table)
    }
  }

  /** Intra-batch dedup with a CONFLICT fail-fast (ADVICE r14): a dirty
    * export repeating an id would pass the stored-table anti-join twice
    * and break merged ≡ full re-ingest, so duplicated ids are merged —
    * but only when every copy carries the SAME payload. Conflicting
    * payloads under one id are unresolvable (whichever copy the corpus
    * dir holds, a silent max-merge risks picking the other one and
    * breaking the re-ingest equivalence without any signal), so they
    * fail fast with the offending ids named.
    *
    * Returns the merged (id, payload) frame, EAGERLY checkpointed —
    * batch-sized, and the caller's anti-join/encode pipeline consumes
    * it at least twice. */
  private[jobs] def dedupBatch(df: DataFrame, id: String,
      payload: String): DataFrame = {
    val merged = df.select(col(id), col(payload))
      .groupBy(col(id))
      .agg(max(col(payload)).as(payload),
        countDistinct(col(payload)).as("__np"))
      .localCheckpoint(true)
    val bad = merged.where(col("__np") > 1L).select(col(id)).take(3)
    require(bad.isEmpty,
      s"conflicting intra-batch payloads: $id in " +
        s"{${bad.map(_.get(0)).mkString(", ")}, ...} carries more than one " +
        s"distinct $payload — a duplicated id must repeat ONE payload, or " +
        "merged-vs-full-re-ingest equivalence breaks silently")
    merged.drop("__np")
  }
}
