package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.TextQueries

/** STREAMING face of classifier DRIFT monitoring (VERDICT r15 item 6):
  * per source, the cumulative margin-domain state re-emits the q161
  * discrimination statistic (AUC vs the rule gate) and the q165
  * calibration statistic (top-decile lift) after every micro-batch that
  * touches the source. With [[AgreementStream]] (kappa) this completes
  * the monitoring triple — agreement, discrimination, calibration —
  * all at ingest latency: an AUC trajectory sagging toward 0.5 means
  * the classifier stopped separating what the rule gate separates on
  * the NEW documents; a top-decile lift decaying toward 1 means its
  * most-confident band stopped being enriched — both symptoms of crawl
  * shift or a stale model, surfaced per batch instead of at the
  * nightly eval.
  *
  * Single-sourcing: the input projection uses the SAME
  * [[TextQueries.clfMarginCol]] / [[TextQueries.qualityOkCol]] columns
  * as q107/q161/q165, and the fold reproduces q161's AUC arithmetic
  * (ascending-margin fold of p·(2·nb + q), exact integers into one
  * final fixed-order double expression) and q165's decile arithmetic
  * ((cum·CalibBins + nt − 1) div nt, lift as four exact counts cast to
  * double in q165's order) — so the stream's doubles are BIT-EQUAL to
  * the oracle-checked batch dual q169 ([[TextQueries.q169DriftDual]]),
  * not approximately equal.
  *
  * Plan shape: map-only margin projection (the q107 chain), then ONE
  * stateful operator keyed by source. State is the (margin → (p, q))
  * DOMAIN of the source — the q149/GateStream domain argument
  * transported to evaluation: bounded by distinct margins, not rows.
  * Each snapshot costs one O(D log D) pass over the domain (sort +
  * prefix fold) — domain-sized, per batch, per touched source.
  * Emission is one snapshot per (source, micro-batch): the monitor's
  * contract is the TRAJECTORY (the AgreementStream convention);
  * consumers alert on deltas. An optional TTL bounds state. */
object DriftStream {

  case class MarginRow(doc_id: Long, source: String, m: Long, pos: Boolean)
  case class PQ(p: Long, q: Long)
  case class DomState(dom: Map[Long, PQ])
  case class Snap(source: String, n_batch: Long, n_docs: Long,
      n_pos: Long, n_neg: Long, auc: Option[Double],
      lift_top: Option[Double])

  /** Default state TTL (disabled in bounded test drivers). */
  val StateTtl = "90 days"

  /** q161's AUC + q165's top-decile lift from a margin domain — ONE
    * ascending pass after totals. Exact integer accumulation (BigInt
    * for the AUC numerator, mirroring q161's DECIMAL(38,0)); the
    * doubles are produced by the same fixed-order expressions as the
    * SQL duals. */
  private[graft] def snapOf(source: String, nBatch: Long,
      dom: Map[Long, PQ]): Snap = {
    val sorted = dom.toArray.sortBy(_._1)
    var p = 0L
    var q = 0L
    sorted.foreach { case (_, pq) => p += pq.p; q += pq.q }
    val (nt, pt) = (p + q, p)
    var nb = 0L
    var num = BigInt(0)
    var cum = 0L
    var dp = 0L
    var dn = 0L
    sorted.foreach { case (_, pq) =>
      num += BigInt(pq.p) * BigInt(2L * nb + pq.q)
      nb += pq.q
      cum += pq.p + pq.q
      // q165's decile bucket: this domain row lands in the top decile
      // iff ceil(cum·CalibBins/nt) == CalibBins
      if ((cum * TextQueries.CalibBins + nt - 1L) / nt == TextQueries.CalibBins) {
        dp += pq.p; dn += pq.p + pq.q
      }
    }
    val auc =
      if (p > 0L && q > 0L)
        Some(num.toDouble / (p.toDouble * q.toDouble * 2.0))
      else None
    val lift =
      if (pt > 0L && dn > 0L)
        Some((dp.toDouble * nt.toDouble) / (dn.toDouble * pt.toDouble))
      else None
    Snap(source, nBatch, nt, p, q, auc, lift)
  }

  private[graft] def fold(source: String, it: Iterator[MarginRow],
      state: GroupState[DomState], ttl: Option[String]): Iterator[Snap] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var dom = state.getOption.map(_.dom).getOrElse(Map.empty[Long, PQ])
    var nb = 0L
    it.foreach { r =>
      nb += 1L
      val pq = dom.getOrElse(r.m, PQ(0L, 0L))
      dom = dom.updated(r.m,
        if (r.pos) pq.copy(p = pq.p + 1L) else pq.copy(q = pq.q + 1L))
    }
    state.update(DomState(dom))
    ttl.foreach(t => state.setTimeoutDuration(t))
    Iterator.single(snapOf(source, nb, dom))
  }

  /** Per-(source, micro-batch) drift snapshots of a streaming (or
    * batch) documents frame. `ttl = None` disables expiry. */
  def snapshots(docs: DataFrame, ttl: Option[String] = Some(StateTtl))
      (implicit spark: SparkSession): Dataset[Snap] = {
    import spark.implicits._
    val rows = docs
      .select($"doc_id", $"source",
        TextQueries.clfMarginCol.as("m"),
        TextQueries.qualityOkCol.as("pos"))
      .as[MarginRow]
    val conf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    rows.groupByKey(_.source).flatMapGroupsWithState(OutputMode.Append(), conf)(
      (src: String, it: Iterator[MarginRow], st: GroupState[DomState]) =>
        fold(src, it, st, ttl))
  }

  /** Drive to completion on a bounded documents drop-dir; returns the
    * FINAL snapshot per source in q169's column shape. */
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
      .orderBy($"n_docs".desc)
    snaps.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"source", $"n_docs", $"n_pos", $"n_neg", $"auc", $"lift_top")
      .orderBy($"source")
  }
}
