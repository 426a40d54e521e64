package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING face of q113's AS-OF join, via `flatMapGroupsWithState` —
  * the custom-state operator shape (SURVEY.md §2.10): per-user state is
  * the LATEST purchase seen (id, value, µs), each micro-batch folds its
  * events in event-time order against that state, and every click emits
  * its point-in-time match immediately. The batch query re-derives the
  * same rows with a window over the full corpus; the streaming form
  * answers with O(1) state per key and per-event latency — the
  * feature-store read path, incremental.
  *
  * Equivalence contract (pinned in StreamingSpec): identical output to
  * [[graft.queries.RelationalQueries.q113AsofJoin]] when the stream
  * delivers each user's events in event-time order across batches
  * (within a batch, order is free — the fold sorts). A purchase arriving
  * LATE (after a click it should have matched) is the documented
  * divergence — the same late-data boundary q112 measures and the 1-day
  * watermark drops in dailyRollup.
  *
  * Scale: state is one 24-byte record per active user, partitioned by
  * the group key across executors and checkpointed; memory is bounded by
  * active keys, never stream length. */
object AsofStream {

  case class EvIn(user_id: Long, event_id: Long, side: Int,
      tus: Long, value: Double)
  case class PurchaseState(p_id: Long, p_value: Double, p_tus: Long)
  case class AsofOut(user_id: Long, click_id: Long,
      purchase_id: Option[Long], purchase_value: Option[Double],
      staleness_us: Option[Long])

  /** Fold one user's batch slice (sorted to event-time order; side 0 =
    * purchase sorts before clicks at the same µs, matching ASOF's `<=`,
    * and ascending event_id realizes the max-id dedup at equal µs).
    *
    * MEMORY CONTRACT (ADVICE r10): the slice is materialized and sorted
    * in one task, so per-key-per-BATCH volume must be bounded — the same
    * assumption every flatMapGroupsWithState fold makes, and distinct
    * from the O(1) cross-batch state bound below. A hub key (the bot-user
    * skew q114's salted variant addresses) concentrates its batch slice
    * on one task; the mitigation at that scale is shorter triggers (less
    * per-batch volume) or pre-salting the hub user upstream — state
    * itself never grows either way. */
  def update(user: Long, it: Iterator[EvIn],
      state: GroupState[PurchaseState]): Iterator[AsofOut] = {
    val evs = it.toArray.sortBy(e => (e.tus, e.side, e.event_id))
    var st = state.getOption
    val out = Array.newBuilder[AsofOut]
    evs.foreach { e =>
      if (e.side == 0) {
        val better = st.forall(s =>
          e.tus > s.p_tus || (e.tus == s.p_tus && e.event_id > s.p_id))
        if (better) st = Some(PurchaseState(e.event_id, e.value, e.tus))
      } else out += (st match {
        case Some(s) => AsofOut(user, e.event_id,
          Some(s.p_id), Some(s.p_value), Some(e.tus - s.p_tus))
        case None => AsofOut(user, e.event_id, None, None, None)
      })
    }
    st.foreach(state.update)
    out.result().iterator
  }

  /** Project a (possibly streaming) events frame to the fold's input:
    * purchases side 0, clicks side 1, everything else dropped. */
  def prepare(events: DataFrame)(implicit spark: SparkSession): Dataset[EvIn] = {
    import spark.implicits._
    events
      .where($"event_type".isin("purchase", "click"))
      .select($"user_id", $"event_id",
        when($"event_type" === "purchase", 0).otherwise(1).as("side"),
        unix_micros($"ts").as("tus"), $"value")
      .as[EvIn]
  }

  /** Default idle-state TTL: a user whose last event is older than this
    * has its purchase state reclaimed (processing-time timeout), so the
    * store is bounded by users ACTIVE within the window — not users ever
    * seen (review finding: NoTimeout grows without bound under user
    * churn). A user returning after expiry re-matches from scratch, the
    * same answer a watermark-bounded batch backfill would give. */
  val StateTtl = "30 days"

  private def updateWithTtl(user: Long, it: Iterator[EvIn],
      state: GroupState[PurchaseState], ttl: String): Iterator[AsofOut] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = update(user, it, state)
      if (state.exists) state.setTimeoutDuration(ttl)
      out
    }

  /** `ttl = None` disables state expiry (NoTimeout). The bounded test
    * drivers need it: under ProcessingTimeTimeout the engine keeps
    * scheduling timeout-evaluation batches, so `processAllAvailable`
    * never returns on a finite drop-dir. Production (continuous) runs
    * keep the default TTL. */
  def asofMatches(events: DataFrame, ttl: Option[String] = Some(StateTtl))
      (implicit spark: SparkSession): Dataset[AsofOut] = {
    import spark.implicits._
    val grouped = prepare(events).groupByKey(_.user_id)
    ttl match {
      case Some(t) => grouped.flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout())(
        (u: Long, it: Iterator[EvIn], st: GroupState[PurchaseState]) =>
          updateWithTtl(u, it, st, t))
      case None => grouped.flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(update)
    }
  }

  /** Drive to completion on a bounded drop-dir (test path; ttl = None —
    * see [[asofMatches]]). */
  def runBounded(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    implicit val s: SparkSession = spark
    BoundedDrive.drain(asofMatches(EventStream.readEvents(spark, dir), ttl = None)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName))
    spark.table(queryName)
  }

  /** RESUMABLE variant: a durable (parquet) sink + checkpoint, the
    * production deployment shape. A later invocation on the same
    * checkpoint recovers the per-user purchase state and the file-source
    * offsets, processing only files that arrived since — the
    * crash/redeploy story (spec-pinned in StreamingSpec; the memory sink
    * can't recover, so the resumable path writes files). Returns the
    * sink's cumulative contents. */
  def runBoundedResumable(spark: SparkSession, dir: String,
      outDir: String, checkpoint: String): DataFrame = {
    implicit val s: SparkSession = spark
    BoundedDrive.drain(asofMatches(EventStream.readEvents(spark, dir), ttl = None)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint))
    spark.read.parquet(outDir)
  }
}
