package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Codec

/** K4/K5 — the wide-row KV store sink (Bigtable in the reference; a
  * parquet KV table `key: string, payload: binary` here, the
  * connector-free parity layout from SURVEY.md §2.2).
  *
  * Row key = hex sha256 of the client id (taar_profile_bigtable.py:304-306,
  * taar_utils.py:110-116); payload = zlib(JSON of the full row)
  * (taar_profile_bigtable.py:322-327).
  *
  * Scale design: the projection (sha2 + to_json + payload_compress) is one
  * whole-stage-codegen map over the input — no shuffle; the write
  * parallelism is the input partitioning. Deletes are a broadcast
  * anti-join on the (small) opt-out set, rewriting only the KV table —
  * the reference's Beam delete pipeline collapses to one line.
  */
object KvSink {

  /** Cross-process lease scope for a KV store path (VERDICT r15 item 3:
    * the KV store is production state like the four derived-state
    * families, so its mutators get the same one-writer-per-store
    * guard). Same injective naming as the ingest families. */
  def leaseName(kvPath: String): String = Bucketing.corpusPrefix("kv", kvPath)

  /** Per-store in-process monitor. [[WriterLease]] excludes other
    * PROCESSES but is deliberately JVM-re-entrant (its `held` set has
    * no thread owner), so it cannot exclude a second THREAD in this
    * JVM — the ingest families each pair their lease with an object
    * monitor for exactly that reason, and until round 17 the KV store
    * was the one mutable root without the in-process half (review
    * finding: two same-JVM threads could interleave rewrites of one
    * store, and [[graft.jobs.Warehouse.snapshot]]'s consistency claim
    * needs the thread case closed too). */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `f` holding the KV store's in-process monitor AND its
    * cross-process writer lease (both re-entrant for the same thread).
    * Every mutating entry point below routes through this, so neither
    * another process nor another thread of this one can interleave
    * rewrites of one store — the same two-guard contract the ingest
    * families have (object monitor + lease). */
  def withStoreLease[T](spark: SparkSession, kvPath: String)(f: => T): T = {
    val mon = storeLocks.computeIfAbsent(leaseName(kvPath), _ => new Object)
    mon.synchronized { WriterLease.withLease(spark, leaseName(kvPath))(f) }
  }

  /** [[withStoreLease]] with a BOUNDED wait on cross-process contention
    * (VERDICT r17 item 4): leases fail fast by design, which is right
    * for batch mutators (an operator reruns the command) but killed a
    * STREAMING writer whose micro-batch happened to land mid-snapshot —
    * the one writer that cannot choose its timing. Contention
    * ([[LeaseHeldException]] only — real failures from `f` propagate
    * immediately) is retried with backoff until `waitMs`
    * (`spark.graft.lease.waitMs`, default 60 s — longer than a
    * state-sized snapshot, far shorter than the 15 min stale-steal
    * horizon) and then rethrown with the wait named: a snapshot
    * outlasting the budget fails the micro-batch, and the streaming
    * engine's own retry redelivers it — which the upsert's idempotent
    * merge absorbs. Same-JVM contention never reaches this (the store
    * monitor BLOCKS inside each attempt rather than failing). */
  def withStoreLeaseRetry[T](spark: SparkSession, kvPath: String)(f: => T): T = {
    val waitMs = spark.conf.getOption("spark.graft.lease.waitMs")
      .map(_.toLong).getOrElse(60000L)
    val deadline = System.nanoTime() + waitMs * 1000000L
    var backoff = 100L
    while (true) {
      try return withStoreLease(spark, kvPath)(f)
      catch { case e: LeaseHeldException =>
        if (System.nanoTime() >= deadline)
          throw new LeaseHeldException(
            s"still held after ${waitMs} ms of bounded retry " +
              s"(spark.graft.lease.waitMs): ${e.getMessage}")
        Thread.sleep(backoff)
        backoff = math.min(backoff * 2, 2000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Build the KV frame: key = sha256(idCol), payload = zlib(json(row)).
    *
    * The payload carries the HASHED id, not the raw one — the reference
    * pseudonymizes the client id before it ever reaches the store
    * (taar_profile_bigtable.py:304-306 hashes, :318-327 serializes the
    * hashed dict), so the raw id must not survive inside the JSON either. */
  def toKv(spark: SparkSession, df: DataFrame, idCol: String,
      codec: String = "zlib"): DataFrame = {
    val fields = df.columns.map {
      case c if c == idCol => sha2(col(c).cast("string"), 256).as(c)
      case c               => col(c)
    }
    val json = to_json(struct(fields: _*)).cast("binary")
    df.select(sha2(col(idCol).cast("string"), 256).as("key"),
      Codec.compressCol(json, codec).as("payload"))
  }

  /** A bare overwrite clears the live path BEFORE the new files land,
    * so a crash mid-write would destroy the previous contents with no
    * backup — the one window the rewrite protocol exists to close
    * (ADVICE r16). When the store already exists (or an interrupted
    * rewrite parked it at `.old_rewrite`), the write therefore routes
    * through [[rewriteInPlace]]'s tmp/old/live rename commit like every
    * other KV mutator; the direct overwrite remains only for initial
    * creation, where there is nothing to lose. */
  def write(spark: SparkSession, df: DataFrame, idCol: String, path: String,
      codec: String = "zlib"): Unit = withStoreLease(spark, path) {
    recoverInterrupted(spark, path)
    val kv = toKv(spark, df, idCol, codec)
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live)) rewriteInPlace(spark, path, kv)
    else kv.write.mode("overwrite").parquet(path)
  }

  /** K5 — opt-out delete: drop every key whose source id appears in
    * `optOutIds` (anti-join; taar_profile_bigtable.py:193-223, :332-339). */
  def deleteOptOuts(spark: SparkSession, kvPath: String, optOutIds: DataFrame,
      idCol: String): Unit = withStoreLease(spark, kvPath) {
    recoverInterrupted(spark, kvPath)
    val keys = optOutIds.select(sha2(col(idCol).cast("string"), 256).as("key")).distinct()
    val kv = spark.read.parquet(kvPath)
    rewriteInPlace(spark, kvPath, kv.join(broadcast(keys), Seq("key"), "left_anti"))
  }

  /** GC parity with the reference's Bigtable column-family policy —
    * union(maxAge 90 days, maxVersions 1), taar_profile_bigtable.py:134-164.
    * maxVersions=1 already holds structurally (latest-per-key merge in
    * the upsert path); this pass adds the age half: drop every row whose
    * payload version timestamp (micros since epoch, field `verField` in
    * the payload JSON — the upsert path writes `ver`) is older than
    * `asOfMicros − days`.
    *
    * Rows WITHOUT a parseable version are EXPIRED by default: in
    * Bigtable every cell carries a server timestamp, so MaxAge bounds
    * retention of ALL data — an unversioned payload predates the version
    * scheme and is therefore older than any cutoff; keeping it forever
    * would be a retention/privacy divergence from the policy this
    * mirrors (round-5 advice). `keepUnversioned = true` is the explicit
    * migration-window opt-out for stores that still need legacy payloads
    * backfilled before the policy bites.
    *
    * Idempotent: the predicate depends only on payload content and the
    * caller-supplied `asOfMicros`, so a re-run keeps exactly the same
    * rows. Scale: one filter scan + rewrite, no shuffle; at warehouse
    * scale this runs inside the scheduled compaction that the bucketed
    * snapshot already needs. */
  def expireOlderThan(spark: SparkSession, kvPath: String, asOfMicros: Long,
      days: Int = 90, verField: String = "ver", codec: String = "zlib",
      keepUnversioned: Boolean = false): Unit = withStoreLease(spark, kvPath) {
    val cutoff = asOfMicros - days.toLong * 24L * 3600L * 1000000L
    recoverInterrupted(spark, kvPath)
    val kv = spark.read.parquet(kvPath)
    val json = Codec.decompressCol(col("payload"), codec).cast("string")
    val ver = get_json_object(json, s"$$.$verField").cast("long")
    rewriteInPlace(spark, kvPath,
      kv.where(coalesce(ver >= cutoff, lit(keepUnversioned))))
  }

  /** Rewrite a KV table in place: write to a temp path, step the live
    * path aside, publish the temp path by rename, then drop the old
    * data. Every rename's result is CHECKED — and the live data is
    * deleted only after the new data is live, so no step leaves the
    * table unrecoverable: a crash or failed rename leaves the previous
    * contents at the live path or at `<path>.old_rewrite` (restored
    * automatically on a failed publish). Renames are atomic on
    * HDFS-like filesystems — the same commit shape as the DSv2
    * connector. */
  /** Complete a rewrite that crashed between stepping the live path
    * aside and publishing: live missing + backup present → the backup IS
    * the table; restore it before any read. Every rewriting entry point
    * calls this first, so an interrupted run self-heals on the next one
    * instead of surfacing as a missing table — and the backup is never
    * treated as deletable garbage while the live path is absent. */
  private def recoverInterrupted(spark: SparkSession, kvPath: String): Unit = {
    val hp = (s: String) => new org.apache.hadoop.fs.Path(s)
    val (old, live) = (hp(kvPath + ".old_rewrite"), hp(kvPath))
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(kvPath),
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new java.io.IOException(
        s"found interrupted rewrite of $kvPath (live missing, backup at " +
          s"$old) but restoring it failed — intervene before rewriting")
  }

  /** PRECONDITION: the caller ran [[recoverInterrupted]] before building
    * `kept` (the eager parquet footer read already needs the live path,
    * so recovery must happen earlier than this method can provide). */
  private def rewriteInPlace(spark: SparkSession, kvPath: String,
      kept: DataFrame): Unit = {
    val hp = (s: String) => new org.apache.hadoop.fs.Path(s)
    val (tmp, old, live) =
      (hp(kvPath + ".tmp_rewrite"), hp(kvPath + ".old_rewrite"), hp(kvPath))
    kept.write.mode("overwrite").parquet(tmp.toString)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(kvPath),
      spark.sparkContext.hadoopConfiguration)
    // after recoverInterrupted, a surviving `old` coexists with a LIVE
    // table — the leftover of a crash after publish; safe to clear
    fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(
        s"rewrite of $kvPath failed stepping live aside; table untouched")
    if (!fs.rename(tmp, live)) {
      val restored = fs.rename(old, live)
      throw new java.io.IOException(s"rewrite of $kvPath failed publishing; " +
        (if (restored) "previous contents restored"
         else s"previous contents preserved at $old"))
    }
    fs.delete(old, true)
  }

  /** Restore an interrupted rewrite if one is parked; no other effect.
    * [[graft.jobs.Warehouse.snapshot]] calls this so a snapshot never
    * reads a store whose only copy sits at `.old_rewrite`. */
  def heal(spark: SparkSession, kvPath: String): Unit =
    withStoreLease(spark, kvPath) { recoverInterrupted(spark, kvPath) }

  /** Replace the store's contents with an ALREADY-ENCODED (key, payload)
    * frame under the rewrite protocol — [[graft.jobs.Warehouse.restore]]'s
    * KV path (the frame comes from a snapshot of this store, so
    * re-encoding through [[toKv]] would double-hash and double-compress).
    * Creates the store if absent; crash-safe either way. */
  def restoreFrom(spark: SparkSession, kvPath: String, kv: DataFrame): Unit =
    withStoreLease(spark, kvPath) {
      recoverInterrupted(spark, kvPath)
      rewriteInPlace(spark, kvPath, kv.select(col("key"), col("payload")))
    }

  /** Drop the store and every rewrite-protocol sibling path —
    * [[graft.jobs.Warehouse.restore]]'s answer to a store created only
    * AFTER the snapshot point (and K6's table-drop shape on the KV
    * layout). Safe on any state. */
  def dropStore(spark: SparkSession, kvPath: String): Unit =
    withStoreLease(spark, kvPath) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(kvPath),
        spark.sparkContext.hadoopConfiguration)
      Seq("", ".tmp_rewrite", ".old_rewrite").foreach(sfx =>
        fs.delete(new org.apache.hadoop.fs.Path(kvPath + sfx), true))
    }

  /** Collapse the store's accumulated data files (VERDICT r15 item 3:
    * every rewrite/upsert re-lands the full row set, but file counts
    * still grow wherever the input partitioning does — the same
    * O(days)-files problem the bucketed families solved with their
    * compact stages). Row-identical: one scan, hash-repartitioned on
    * the key into ceil(bytes / targetFileBytes) files and sorted within
    * each, so pointed key reads prune on parquet min/max stats. Commits
    * under the same tmp/old/live rename protocol as every KV rewrite. */
  def compact(spark: SparkSession, kvPath: String,
      targetFileBytes: Long = 256L << 20): Unit = withStoreLease(spark, kvPath) {
    recoverInterrupted(spark, kvPath)
    val live = new org.apache.hadoop.fs.Path(kvPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the ingest families' compact convention: absent state is an
    // error here (unlike scrub, which must be safe on any state)
    require(fs.exists(live), s"compact needs an existing KV store: $kvPath")
    val bytes = fs.getContentSummary(live).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    rewriteInPlace(spark, kvPath,
      spark.read.parquet(kvPath)
        .repartition(n, col("key")).sortWithinPartitions("key"))
  }

  /** [[graft.jobs.StateFsck]]'s remedy on the KV store: restore an
    * interrupted rewrite, clear orphan task-attempt temp dirs
    * (`_temporary` inside the store — a crashed write job's residue),
    * then rewrite keeping only rows the engine could have written
    * (non-empty key and payload) with ONE row per key (the
    * maxVersions=1 invariant; the deterministic max-payload row wins a
    * conflict). When `optOuts` is given, their hashed keys are removed
    * too — exactly what [[deleteOptOuts]] would have done on the missed
    * takedown the drift implies. No-op on an absent store. */
  def scrub(spark: SparkSession, kvPath: String,
      optOuts: Option[DataFrame] = None,
      idCol: String = "client_id"): Unit = withStoreLease(spark, kvPath) {
    val live = new org.apache.hadoop.fs.Path(kvPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && !fs.exists(
      new org.apache.hadoop.fs.Path(kvPath + ".old_rewrite"))) return
    recoverInterrupted(spark, kvPath)
    fs.delete(new org.apache.hadoop.fs.Path(live, "_temporary"), true)
    val keys = optOuts.map(_.select(
      sha2(col(idCol).cast("string"), 256).as("key")).distinct())
    val kept0 = spark.read.parquet(kvPath)
      .where(col("key").isNotNull && length(col("key")) > 0 &&
        col("payload").isNotNull && octet_length(col("payload")) > 0)
      .groupBy(col("key")).agg(max(col("payload")).as("payload"))
    rewriteInPlace(spark, kvPath, keys.fold(kept0)(k =>
      kept0.join(broadcast(k), Seq("key"), "left_anti")))
  }

  /** Decode a KV payload back to JSON text (consumer side / tests). */
  def decodePayload(spark: SparkSession, kv: DataFrame,
      codec: String = "zlib"): DataFrame = {
    kv.select(col("key"),
      Codec.decompressCol(col("payload"), codec).cast("string").as("json"))
  }
}
