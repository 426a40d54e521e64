package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.TextQueries

/** STREAMING face of the evaluation family — the distribution-shift
  * monitor: per source, the cumulative rule-gate vs classifier
  * confusion matrix and Cohen's kappa, re-emitted after every
  * micro-batch that touches the source. A source whose kappa trajectory
  * departs from its history is a source whose incoming documents the
  * two gates suddenly disagree about — the first observable symptom of
  * a crawl change, an encoding regression, or a stale classifier, and
  * the monitor surfaces it at ingest latency instead of at the nightly
  * eval. Batch dual: [[TextQueries.q166SourceAgreement]] (oracle-green),
  * whose final row per source the bounded stream equals exactly.
  *
  * Plan shape: map-only flag projection (the SAME single-sourced
  * rule-gate and margin columns the batch queries use — the stream and
  * the dual cannot drift), then ONE stateful operator keyed by source.
  * State is four Longs per source — no domain, no rows; the smallest
  * state of any face in the repo. Kappa is computed in the fold with
  * the IDENTICAL fixed-order double arithmetic as [[TextQueries
  * .withKappa]]'s columns, so stream and batch values are bit-equal,
  * not approximately equal.
  *
  * Emission is one snapshot row per (source, micro-batch) — the
  * monitor's contract is the TRAJECTORY; consumers alert on deltas
  * between consecutive snapshots (or against a batch baseline), which
  * keeps the operator free of alert policy. An optional TTL bounds
  * state where sources churn. */
object AgreementStream {

  case class FlagRow(doc_id: Long, source: String, a: Boolean, b: Boolean)
  case class CmState(n11: Long, n10: Long, n01: Long, n00: Long)
  case class Snap(source: String, n_batch: Long,
      n11: Long, n10: Long, n01: Long, n00: Long,
      po: Double, kappa: Option[Double])

  /** Default state TTL (disabled in bounded test drivers). */
  val StateTtl = "90 days"

  /** The EXACT arithmetic of [[TextQueries.withKappa]] in Scala doubles
    * (same operations in the same order — bit-equal results). */
  private[graft] def kappaOf(c: CmState): (Double, Option[Double]) = {
    val n = (c.n11 + c.n10 + c.n01 + c.n00).toDouble
    val agree = (c.n11 + c.n00).toDouble
    val pe = (c.n11 + c.n10).toDouble * (c.n11 + c.n01).toDouble +
      (c.n01 + c.n00).toDouble * (c.n10 + c.n00).toDouble
    val po = agree / n
    val kappa =
      if (n * n != pe) Some((n * agree - pe) / (n * n - pe)) else None
    (po, kappa)
  }

  /** One source fold: add the batch's flag counts to the cumulative
    * confusion matrix, emit one snapshot. */
  private[graft] def fold(source: String, it: Iterator[FlagRow],
      state: GroupState[CmState], ttl: Option[String]): Iterator[Snap] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(CmState(0L, 0L, 0L, 0L))
    var nb = 0L
    it.foreach { r =>
      nb += 1L
      st =
        if (r.a && r.b) st.copy(n11 = st.n11 + 1L)
        else if (r.a) st.copy(n10 = st.n10 + 1L)
        else if (r.b) st.copy(n01 = st.n01 + 1L)
        else st.copy(n00 = st.n00 + 1L)
    }
    state.update(st)
    ttl.foreach(t => state.setTimeoutDuration(t))
    val (po, kappa) = kappaOf(st)
    Iterator.single(Snap(source, nb, st.n11, st.n10, st.n01, st.n00, po, kappa))
  }

  /** Per-(source, micro-batch) agreement snapshots of a streaming (or
    * batch) documents frame. `ttl = None` disables expiry. */
  def snapshots(docs: DataFrame, ttl: Option[String] = Some(StateTtl))
      (implicit spark: SparkSession): Dataset[Snap] = {
    import spark.implicits._
    val rows = docs
      .select($"doc_id", $"source",
        TextQueries.qualityOkCol.as("a"),
        (TextQueries.clfMarginCol > 0L).as("b"))
      .as[FlagRow]
    val conf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(_.source).flatMapGroupsWithState(OutputMode.Append(), conf)(
      (src: String, it: Iterator[FlagRow], st: GroupState[CmState]) =>
        fold(src, it, st, ttl))
  }

  /** Drive to completion on a bounded documents drop-dir; returns the
    * FINAL snapshot per source in q166's column shape (the cumulative
    * counts grow monotonically, so the final snapshot is the one with
    * the largest total). */
  def runBounded(spark: SparkSession, glob: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val snaps = BoundedDrive.run(spark, glob, queryName, schema,
      maxFilesPerTrigger)(snapshots(_, ttl = None))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy(($"n11" + $"n10" + $"n01" + $"n00").desc)
    snaps.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"source", $"n11", $"n10", $"n01", $"n00", $"po", $"kappa")
      .orderBy($"source")
  }
}
