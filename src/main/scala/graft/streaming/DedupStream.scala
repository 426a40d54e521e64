package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.DedupQueries

/** STREAMING face of the incremental near-dup gate (q89's daily-ingest
  * contract collapsed to per-document latency): every arriving document
  * is checked against everything already seen, emitting a hit per LSH
  * band bucket that some earlier document occupies — the admission gate
  * that routes an incoming doc to quarantine/verification BEFORE it
  * lands in the corpus.
  *
  * Plan shape: the signature is the MAP-ONLY per-row form
  * ([[DedupQueries.perRowSignature]] — same md5 chains as the batch
  * exploded path, equality spec-pinned), banding is q26's band-label
  * projection (also map-only), and the only stateful operator keys by
  * the band BUCKET (band_id, band-hash): `flatMapGroupsWithState` whose
  * state is ONE LONG — the minimum doc_id ever seen in the bucket.
  * A bucket's rows are folded in doc_id order inside each micro-batch,
  * and a hit fires whenever the bucket is ALREADY OCCUPIED — regardless
  * of id order — so out-of-order arrival (a smaller doc_id landing in a
  * LATER micro-batch than a larger bucket-mate) changes only which
  * member of a pair is called the duplicate, never whether the pair is
  * caught (review finding r12: the old `minSeen < doc_id` emit test
  * silently missed exactly that cross-batch case). Under the
  * ingest-sequence contract (arrival follows doc_id, the other faces'
  * assumption) the occupied-test degenerates to the old rule and the
  * output equals the batch dual row for row; out of order, `matched`
  * reports the smallest bucket-mate seen SO FAR, which is the honest
  * streaming answer (the batch dual's global bucket min is unknowable
  * at emit time).
  *
  * State size: 8 bytes per DISTINCT occupied band bucket — the entire
  * seen-corpus index compressed to its bucket minima; an optional TTL
  * (ProcessingTimeTimeout, the AsofStream pattern) bounds it for
  * unbounded deployments where "duplicate of last N days" is the
  * product contract.
  *
  * Admission rule: shingle-less docs (< 3 tokens) are admitted WITHOUT
  * a gate check — their all-null signatures would otherwise collide in
  * one degenerate band bucket and cross-flag every short doc.
  *
  * Batch≡stream: the bounded driver's output equals the batch dual —
  * bandLabels(minhashSignatures(docs)) with each bucket's min doc_id
  * broadcast to its members — pinned in StreamingSpec on the sf0.001
  * corpus, candidates cross-checked against q26's verified pairs. */
object DedupStream {

  case class BandRow(bucket: String, doc_id: Long)
  case class BucketState(minId: Long)
  case class Hit(doc_id: Long, bucket: String, matched: Long)

  /** Default state TTL (disabled in bounded test drivers). */
  val StateTtl = "30 days"

  /** One bucket fold: emit a hit for every row that finds the bucket
    * already occupied (by ANY bucket-mate, earlier- or later-id — the
    * pair-catch guarantee must survive cross-batch out-of-order
    * arrival); state = bucket min doc_id. */
  private[graft] def fold(bucket: String, it: Iterator[BandRow],
      state: GroupState[BucketState], ttl: Option[String]): Iterator[Hit] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var minSeen = state.getOption.map(_.minId).getOrElse(Long.MaxValue)
    val hits = it.toSeq.sortBy(_.doc_id).flatMap { r =>
      // minSeen == doc_id only on a replayed row — a doc is not its own
      // duplicate, so a redelivery must not self-flag
      val h = if (minSeen != Long.MaxValue && minSeen != r.doc_id)
        Some(Hit(r.doc_id, bucket, minSeen)) else None
      if (r.doc_id < minSeen) minSeen = r.doc_id
      h
    }
    state.update(BucketState(minSeen))
    ttl.foreach(t => state.setTimeoutDuration(t))
    hits.iterator
  }

  /** (bucket, doc_id) band rows of a streaming (or batch) documents
    * frame — map-only: per-row signature + band projection. */
  private[graft] def bandRows(spark: SparkSession, docs: DataFrame): Dataset[BandRow] = {
    import spark.implicits._
    // shingle-less docs (< 3 tokens) never band: their all-null
    // signatures would all collide in the constant md5('') bucket and
    // flag every short doc as a duplicate of the first one (review
    // finding r12) — they are admitted without a gate check instead
    val sig = DedupQueries.perRowSignature(spark,
      docs.select($"doc_id", DedupQueries.shingles($"text").as("shingles"))
        .where(size($"shingles") > 0))
    DedupQueries.bandLabels(sig)
      .select(concat($"band_id".cast("string"), lit(":"), $"bh").as("bucket"),
        $"doc_id")
      .as[BandRow]
  }

  /** Per-band-bucket hits of a streaming documents frame. `ttl = None`
    * disables expiry (bounded drivers need it — the AsofStream note). */
  def bandHits(docs: DataFrame, ttl: Option[String] = Some(StateTtl))
      (implicit spark: SparkSession): Dataset[Hit] = {
    import spark.implicits._
    val grouped = bandRows(spark, docs).groupByKey(_.bucket)
    val conf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    grouped.flatMapGroupsWithState(OutputMode.Append(), conf)(
      (b: String, it: Iterator[BandRow], st: GroupState[BucketState]) =>
        fold(b, it, st, ttl))
  }

  /** Drive to completion on a bounded documents drop-dir and roll hits
    * up per document: (doc_id, n_band_hits, first_match, is_candidate),
    * zero-hit docs included. */
  def runBounded(spark: SparkSession, glob: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val hits = BoundedDrive.run(spark, glob, queryName, schema, maxFilesPerTrigger)(
      bandHits(_, ttl = None))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_band_hits"), min($"matched").as("first_match"))
    spark.read.schema(schema).parquet(glob).select($"doc_id").distinct()
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_band_hits", lit(0L)).as("n_band_hits"),
        $"first_match",
        $"n_band_hits".isNotNull.as("is_candidate"))
      .orderBy($"doc_id")
  }
}
