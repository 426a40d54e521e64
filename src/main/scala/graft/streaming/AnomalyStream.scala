package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING face of q137's EWMA anomaly detector: the spike monitor is
  * the op that most naturally runs ON the stream (flag the anomalous
  * event as it arrives, not in tomorrow's batch). Per-user state is the
  * last [[graft.queries.RelationalQueries]] `EwmaDepth` cent values as a
  * fixed ring — O(1) memory per key however long the stream — and the
  * flag arithmetic is IDENTICAL to the batch query's cross-multiplied
  * integer form (num/den over power-of-two weights), so batch ≡ stream
  * row-for-row on any prefix-ordered delivery (StreamingSpec pins it).
  *
  * Delivery contract: within a micro-batch the user's slice is sorted
  * by (event time, event id) — the same per-key-per-batch volume bound
  * every flatMapGroupsWithState fold makes (AsofStream's documented
  * MEMORY CONTRACT). ACROSS batches events must arrive in event-time
  * order per user (the drop-dir / log-shipping shape); unlike the
  * watermark-mergeable aggregations, an EWMA is order-DEFINED, so
  * cross-batch late data would need upstream reordering — the same
  * assumption any online anomaly detector makes. */
object AnomalyStream {

  /** Single-sourced from the batch query — the equivalence depends on
    * identical constants. */
  val Depth: Int = graft.queries.RelationalQueries.EwmaDepth
  val ThresholdCents: Long = graft.queries.RelationalQueries.EwmaThresholdCents

  case class EvIn(user_id: Long, tus: Long, event_id: Long, cents: Long)
  /** Ring of the last `Depth` cent values, oldest first. */
  case class Ring(vals: Seq[Long])
  case class AnomOut(user_id: Long, event_id: Long, tus: Long,
      scored: Boolean, anomaly: Boolean)

  /** The q137 flag arithmetic over a history ring (newest last). */
  private[graft] def flag(history: Seq[Long], x: Long): (Boolean, Boolean) = {
    if (history.isEmpty) return (false, false)
    // lag k = k-th from the end; weight 2^(Depth-k)
    var num = 0L
    var den = 0L
    var k = 1
    while (k <= math.min(Depth, history.length)) {
      val w = 1L << (Depth - k)
      num += history(history.length - k) * w
      den += w
      k += 1
    }
    (true, math.abs(x * den - num) > ThresholdCents * den)
  }

  private[graft] def fold(user: Long, it: Iterator[EvIn],
      state: GroupState[Ring]): Iterator[AnomOut] = {
    var hist = state.getOption.map(_.vals).getOrElse(Seq.empty)
    val out = it.toArray.sortBy(e => (e.tus, e.event_id)).map { e =>
      val (scored, anom) = flag(hist, e.cents)
      hist = (hist :+ e.cents).takeRight(Depth)
      AnomOut(user, e.event_id, e.tus, scored, anom)
    }
    state.update(Ring(hist))
    out.iterator
  }

  /** Default idle-state TTL, mirroring AsofStream's: a user whose last
    * event is older than this has its ring reclaimed (processing-time
    * timeout), so the store is bounded by users ACTIVE within the
    * window, not users ever seen — under user churn NoTimeout state
    * grows without bound. A user returning after expiry rebuilds the
    * EWMA history from scratch (first event unscored), exactly what the
    * batch query computes over a retention-bounded input. */
  val StateTtl = "30 days"

  private def foldWithTtl(user: Long, it: Iterator[EvIn],
      state: GroupState[Ring], ttl: String): Iterator[AnomOut] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = fold(user, it, state)
      if (state.exists) state.setTimeoutDuration(ttl)
      out
    }

  /** Per-event verdicts over a (possibly streaming) events frame.
    * `ttl = None` disables state expiry (NoTimeout) — the bounded test
    * drivers need it: under ProcessingTimeTimeout the engine keeps
    * scheduling timeout-evaluation batches, so `processAllAvailable`
    * never returns on a finite drop-dir. Production runs keep the
    * default TTL (the AsofStream contract). */
  def anomalies(events: DataFrame, ttl: Option[String] = Some(StateTtl))
      (implicit spark: SparkSession): Dataset[AnomOut] = {
    import spark.implicits._
    val in = events.select(
        $"user_id".cast("long").as("user_id"),
        unix_micros($"ts").as("tus"),
        $"event_id".cast("long").as("event_id"),
        graft.queries.RelationalQueries.centsOf($"value").as("cents"))
      .as[EvIn]
    val grouped = in.groupByKey(_.user_id)
    ttl match {
      case Some(t) => grouped.flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout())(
        (u: Long, it: Iterator[EvIn], st: GroupState[Ring]) =>
          foldWithTtl(u, it, st, t))
      case None => grouped.flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (u: Long, it: Iterator[EvIn], st: GroupState[Ring]) => fold(u, it, st))
    }
  }

  /** Drive to completion on a bounded drop-dir; returns all emissions
    * (test path; ttl = None so processAllAvailable terminates). */
  def runBounded(spark: SparkSession, glob: String, queryName: String): DataFrame = {
    implicit val s: SparkSession = spark
    BoundedDrive.drain(anomalies(EventStream.readEvents(spark, glob), ttl = None)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName(queryName))
    spark.table(queryName)
  }
}
