package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.JsonArtifact
import graft.queries.{ComposeQueries, DedupQueries, EtlQueries}

/** The end-to-end training-corpus EXPORT job — the shipped artifact all
  * the LLM-pipeline operators exist to produce, composed from audited
  * pieces in the reference's job architecture (decide → shuffle → write
  * shards → publish a manifest artifact):
  *
  *  1. DECIDE: q100's verdict chain (benchmark / encoding / quality /
  *     exact-dup / near-dup / decontamination / quota, true sequential
  *     semantics) marks each document keep/drop with a reason code;
  *  2. SHUFFLE: survivors get q108's deterministic global order (60-bit
  *     keyed hash — reproducible on any cluster size, partitioning, or
  *     rerun) and a hash-mod shard assignment; the global rank rides
  *     the PrefixSumPlan two-pass stitch, never a one-task window;
  *  3. WRITE: one partitioned parquet dataset, `shard=N/` per training
  *     file, rows carrying (doc_id, rank, text) pre-sorted by rank
  *     within each shard (sortWithinPartitions after a shard
  *     repartition — each output file is read sequentially by a data
  *     loader, so in-file order IS the training order);
  *  4. PUBLISH: a dual-versioned bz2 JSON manifest (the K1 artifact
  *     contract) with per-shard doc/char totals and the Σ doc_id·rank
  *     order checksum — two exports that would feed a trainer different
  *     orders cannot publish the same manifest — plus the drop-reason
  *     histogram for pipeline observability.
  *
  * Scale: the only corpus-sized exchanges are q100's audited ones, the
  * PrefixSumPlan range exchange, and the final shard repartition that
  * the write itself needs; the manifest is |shards|+|reasons| rows,
  * collect-at-sink by the artifact contract. */
object CorpusExport {

  /** Runs the export; returns the manifest frame (one row per shard).
    * Writes parquet under `<out>/shards/shard=N/` and the manifest pair
    * `<out>/corpus_manifest.json.bz2` (+ dated snapshot). */
  def run(s: SparkSession, dir: String, out: String, asOf: LocalDate): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val verdicts = ComposeQueries.pipelineCore(s, docs)
      .localCheckpoint(false) // consumed by the keep join AND the histogram
    val kept = docs.join(verdicts.where($"keep").select($"doc_id"), Seq("doc_id"))
    val keyed = kept.select($"doc_id", $"text", $"n_chars",
        DedupQueries.h60(concat(lit("shard:"), $"doc_id".cast("string"))).as("h"))
      .withColumn("one", lit(1L))
    val ranked = graft.plans.PrefixSumPlan.scan(keyed, "h", "one", "rank0")
      .select($"doc_id", $"text", $"n_chars",
        pmod($"h", lit(EtlQueries.NShards)).as("shard"), ($"rank0" + 1L).as("rank"))
      .localCheckpoint(false) // write + manifest read the same ranking

    ranked.select($"shard", $"rank", $"doc_id", $"text")
      .repartition($"shard")
      .sortWithinPartitions($"rank")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$out/shards")

    val manifest = ranked.groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars_total"),
        sum($"doc_id" * $"rank").as("order_checksum"))
      .orderBy($"shard")
    val reasons = verdicts.groupBy($"verdict").agg(count(lit(1)).as("n"))
      .orderBy($"verdict")
    JsonArtifact.writeRows(manifest, out, "corpus_manifest.json", asOf)
    JsonArtifact.writeRows(reasons, out, "drop_reasons.json", asOf)
    manifest
  }
}
