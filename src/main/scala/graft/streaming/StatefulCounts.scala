package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state via mapGroupsWithState (SURVEY.md §2.10 extension):
  * a per-user running event counter + value total that survives across
  * micro-batches — the minimal stateful shape every incremental pipeline
  * needs (dedup registries, rate limiters, session caches all look like
  * this).
  *
  * Scale: state is partitioned by the group key across executors and
  * checkpointed; memory is bounded by (active keys × state size), not by
  * stream length.
  */
object StatefulCounts {

  case class UserEvent(user_id: Long, value: Double)
  case class UserState(n: Long, total: Double)
  case class UserCount(user_id: Long, n_events: Long, sum_value: Double)

  def update(userId: Long, events: Iterator[UserEvent],
      state: GroupState[UserState]): UserCount = {
    val prev = state.getOption.getOrElse(UserState(0L, 0.0))
    var n = prev.n
    var total = prev.total
    events.foreach { e => n += 1; total += e.value }
    state.update(UserState(n, total))
    UserCount(userId, n, total)
  }

  /** Streaming per-user totals; emits the updated count per key per batch. */
  def runningCounts(events: DataFrame)(implicit spark: SparkSession): Dataset[UserCount] = {
    import spark.implicits._
    events.select($"user_id", $"value").as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
  }

  /** Drive to completion on a bounded drop-dir (test path); the LAST
    * update per key is the final running total. */
  def runBounded(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    BoundedDrive.drain(runningCounts(EventStream.readEvents(spark, dir))
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(queryName))
    // memory sink in update mode appends one row per key per batch; the
    // final state per user is the row from the latest batch
    val all = spark.table(queryName)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n_events".desc)
    all.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"user_id", $"n_events", $"sum_value")
  }
}
