package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING face of q43's heavy-hitters sketch: per-bucket Misra–Gries
  * counters as `flatMapGroupsWithState` state — the bot-detection /
  * rate-limit shape, where the heavy KEYS of an unbounded stream must
  * surface with bounded memory.
  *
  * The state per bucket is one capacity-bounded counter map plus the
  * decrement mass `dec` (identical semantics to
  * [[graft.functions.SpaceSaving]].reduce — the subtract-form MG step,
  * whose bound est ≤ true ≤ est + dec survives any merge order). Items
  * hash-partition into [[DefaultBuckets]] buckets so state parallelizes
  * across executors; a global answer merges the bucket sketches
  * (disjoint item sets — buckets partition the key space, so "merge" is
  * concatenation and each bucket's `dec` bounds only its own items).
  *
  * Every micro-batch emits the bucket's current sketch rows stamped
  * with `n_seen` (items folded so far); readers keep each bucket's
  * max-`n_seen` emission. Memory: capacity counters per bucket,
  * independent of stream length — the entire point. */
object HeavyHittersStream {

  val DefaultBuckets = 8

  case class In(bucket: Int, item: String)
  case class SketchState(counts: Map[String, Long], dec: Long, seen: Long)
  case class HhOut(bucket: Int, item: String, est: Long, dec: Long, n_seen: Long)

  /** One MG fold over the batch slice; emits the updated sketch. */
  private[graft] def fold(cap: Int)(bucket: Int, it: Iterator[In],
      state: GroupState[SketchState]): Iterator[HhOut] = {
    val counts = scala.collection.mutable.Map.empty[String, Long]
    var dec = 0L
    var seen = 0L
    state.getOption.foreach { s =>
      counts ++= s.counts; dec = s.dec; seen = s.seen
    }
    it.foreach { e =>
      seen += 1L
      if (counts.contains(e.item)) counts(e.item) += 1L
      else if (counts.size < cap) counts(e.item) = 1L
      else {
        // decrement-all: the arriving item's single occurrence cancels
        // against the sketch-wide decrement (q43's exact step)
        counts.mapValuesInPlace((_, v) => v - 1L)
        counts.filterInPlace((_, v) => v > 0L)
        dec += 1L
      }
    }
    state.update(SketchState(counts.toMap, dec, seen))
    counts.iterator.map { case (k, v) => HhOut(bucket, k, v, dec, seen) }
      .toSeq.iterator
  }

  /** Default idle-state TTL (the AsofStream/AnomalyStream contract): a
    * bucket receiving no items for this long has its sketch reclaimed.
    * Unlike those faces' per-user state, bucket count is already bounded
    * ([[DefaultBuckets]]), so expiry here bounds STALENESS, not
    * cardinality — an idle bucket's counters describe traffic that no
    * longer exists, and a revived bucket restarts its window (est ≤ true
    * ≤ est + dec still holds, over the post-expiry suffix). */
  val StateTtl = "30 days"

  private[graft] def foldWithTtl(cap: Int)(bucket: Int, it: Iterator[In],
      state: GroupState[SketchState], ttl: String): Iterator[HhOut] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = fold(cap)(bucket, it, state)
      if (state.exists) state.setTimeoutDuration(ttl)
      out
    }

  /** Heavy users of an event stream: items = user ids, hash-bucketed.
    * `ttl = None` disables state expiry (NoTimeout) — bounded test
    * drivers need it, since under ProcessingTimeTimeout the engine keeps
    * scheduling timeout batches and `processAllAvailable` never returns
    * on a finite drop-dir. Production keeps the default TTL. */
  def heavyUsers(events: DataFrame, cap: Int, buckets: Int = DefaultBuckets,
      ttl: Option[String] = Some(StateTtl))
      (implicit spark: SparkSession): Dataset[HhOut] = {
    import spark.implicits._
    val in = events.select(
        pmod(hash($"user_id"), lit(buckets)).cast("int").as("bucket"),
        $"user_id".cast("string").as("item")).as[In]
    val grouped = in.groupByKey(_.bucket)
    ttl match {
      case Some(t) => grouped.flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.ProcessingTimeTimeout())(
        (b: Int, it: Iterator[In], st: GroupState[SketchState]) =>
          foldWithTtl(cap)(b, it, st, t))
      case None => grouped.flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(
        (b: Int, it: Iterator[In], st: GroupState[SketchState]) =>
          fold(cap)(b, it, st))
    }
  }

  /** Drive to completion on a bounded drop-dir; returns each bucket's
    * LAST emission (max n_seen) — the final sketch contents. */
  def runBounded(spark: SparkSession, glob: String, cap: Int,
      queryName: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    BoundedDrive.drain(heavyUsers(EventStream.readEvents(spark, glob), cap, ttl = None)
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(queryName))
    val all = spark.table(queryName)
    val wMax = org.apache.spark.sql.expressions.Window.partitionBy($"bucket")
    all.withColumn("max_seen", max($"n_seen").over(wMax))
      .where($"n_seen" === $"max_seen")
      .select($"bucket", $"item", $"est", $"dec", $"n_seen")
  }
}
