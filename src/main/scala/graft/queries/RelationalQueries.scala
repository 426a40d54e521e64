package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._
import graft.operators.Materialize.sortSharedQuery

/** Relational operator surface (SURVEY.md §2.3-§2.8, §2.11) mapped onto the
  * driver's testdata tables. Each query has a DuckDB oracle with identical
  * column names and deterministic (order-independent, engine-portable)
  * values.
  *
  * Scale notes (100 TB design):
  *  - Aggregations are plain `groupBy().agg()` — Catalyst plans partial
  *    (map-side) + final hash aggregation automatically; one shuffle on the
  *    group key, no driver-side state.
  *  - Dimension-side joins (`part`, filtered whitelists) are explicitly
  *    `broadcast()` — no shuffle of the fact table.
  *  - Filters sit directly on the scan so parquet row-group pruning and
  *    predicate pushdown apply (`PushedFilters` in explain).
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q01: full-table multi-aggregate pricing summary (A1 rich form; the
    * flagship query). Reference shape: group-by counts/sums of
    * taar_lite_guid_ranking.py:17-29 widened to several measures. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .where($"l_shipdate" <= lit("2001-09-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsumProd($"l_extendedprice", lit(1.0) - $"l_discount").as("sum_disc_price"),
        davg($"l_quantity").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlDsum("l_quantity")} AS sum_qty,
       | ${sqlDsum("l_extendedprice")} AS sum_base_price,
       | ${sqlDsumProd("l_extendedprice", "CAST(1.0 AS DOUBLE) - l_discount")} AS sum_disc_price,
       | ${sqlDavg("l_quantity")} AS avg_qty,
       | COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: group-by count on a single date partition (A1 + F3 — the exact
    * shape of taar_lite_guid_ranking.py:17-29: per-key client counts on one
    * submission_date). */
  def q02EventCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .where(to_date($"ts") === lit("2024-01-15").cast("date"))
      .groupBy($"event_type")
      .agg(count($"user_id").as("n_clients"))
      .orderBy($"event_type")
  }

  val q02Sql: String =
    """SELECT event_type, COUNT(user_id) AS n_clients
      |FROM events
      |WHERE CAST(ts AS DATE) = DATE '2024-01-15'
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q03: distinct over a trailing date range (A2 + F4 — the opt-out
    * deletion_request scan, taar_profile_bigtable.py:197-202). */
  def q03DistinctUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = lit("2024-01-28").cast("date")
    Tables.events(s, dir)
      .where(to_date($"ts").between(date_sub(d, 7), d))
      .select($"user_id").distinct()
      .orderBy($"user_id")
  }

  val q03Sql: String =
    """SELECT DISTINCT user_id
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-28' - INTERVAL 7 DAY AND DATE '2024-01-28'
      |ORDER BY user_id""".stripMargin

  /** q04: conjunctive multi-predicate filter + exact revenue (F6 whitelist
    * conjunction shape, taar_amowhitelist.py:70-97; TPC-H Q6 flavor).
    * All predicates sit on the scan → parquet pushdown. */
  def q04FilteredRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
             $"l_shipdate" <  lit("1997-01-01").cast("timestamp") &&
             $"l_discount".between(0.05, 0.07) &&
             $"l_quantity" < 24)
      .agg(dsumProd($"l_extendedprice", $"l_discount").as("revenue"),
           count(lit(1)).as("n_items"))
  }

  val q04Sql: String =
    s"""SELECT ${sqlDsumProd("l_extendedprice", "l_discount")} AS revenue,
       | COUNT(*) AS n_items
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  /** q05: whitelist semi-join (J4, taar_utils.py:79-107 — keep only rows
    * whose key is in a small whitelist). Whitelist side is broadcast: at
    * 100 TB the fact table never shuffles. */
  def q05SemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val whitelist = Tables.part(s, dir)
      .where($"p_brand" === "Brand#1").select($"p_partkey")
    Tables.lineitem(s, dir)
      .join(broadcast(whitelist), $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_items"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_suppkey")
  }

  val q05Sql: String =
    s"""SELECT l_suppkey, COUNT(*) AS n_items, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
       |GROUP BY l_suppkey
       |ORDER BY l_suppkey""".stripMargin

  /** q06: anti-join (J3, the Bigtable opt-out delete,
    * taar_profile_bigtable.py:193-223 — rows whose key appears in the
    * delete set are dropped). */
  def q06AntiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** q07: enrichment left-outer join + null-coalesce defaults (J1 + P3,
    * taar_amodump.py:192-209 merge + taar_profile_bigtable.py:236-246
    * defaults). */
  def q07LeftOuterEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orderStats = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("total_spend"))
    Tables.customer(s, dir)
      .join(orderStats, $"c_custkey" === $"o_custkey", "left_outer")
      .select($"c_custkey",
              coalesce($"n_orders", lit(0L)).as("n_orders"),
              coalesce($"total_spend", lit(0.0)).as("total_spend"))
      .orderBy($"c_custkey")
  }

  val q07Sql: String =
    s"""SELECT c_custkey,
       | COALESCE(n_orders, 0) AS n_orders,
       | COALESCE(total_spend, CAST(0.0 AS DOUBLE)) AS total_spend
       |FROM customer
       |LEFT JOIN (
       |  SELECT o_custkey, COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS total_spend
       |  FROM orders GROUP BY o_custkey
       |) o ON c_custkey = o_custkey
       |ORDER BY c_custkey""".stripMargin

  /** q08: per-group top-k via window rank (O3, the taar_locale
    * top10_dict.json shape — README.md:102-105). Deterministic tie-break on
    * the key column. */
  def q08TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .select($"o_orderpriority", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rn")
  }

  val q08Sql: String =
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders
      |)
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, rn""".stripMargin

  /** q09: pairwise co-occurrence counts (§2.11 taar_lite
    * guid_coinstallation — distinct (client, guid) self-joined on client
    * with a.guid < b.guid, counted per pair; README.md:108-113).
    * At scale: the distinct projection is tiny relative to the fact table;
    * the self-join shuffles on user_id once, and AQE handles skewed users. */
  def q09PairCooccurrence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ue = Tables.events(s, dir)
      .select($"user_id", $"event_type").distinct()
    ue.as("a").join(ue.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("et_a"), $"b.event_type".as("et_b"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"et_a", $"et_b")
  }

  val q09Sql: String =
    """WITH ue AS (SELECT DISTINCT user_id, event_type FROM events)
      |SELECT a.event_type AS et_a, b.event_type AS et_b, COUNT(*) AS n_users
      |FROM ue a JOIN ue b
      |  ON a.user_id = b.user_id AND a.event_type < b.event_type
      |GROUP BY a.event_type, b.event_type
      |ORDER BY et_a, et_b""".stripMargin

  /** q10: tumbling-window aggregation (the batch face of the streaming
    * extension — `window(ts, "1 day")`; SURVEY.md §2.10). */
  def q10TumblingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "1 day"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select($"window.start".as("bucket"), $"n_events", $"sum_value")
      .orderBy($"bucket")
  }

  val q10Sql: String =
    s"""SELECT time_bucket(INTERVAL '1 day', ts) AS bucket,
       | COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
       |FROM events
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin

  /** q58: sliding (hopping) window aggregation — 10-minute windows every
    * 5 minutes over the event stream, the overlap-window face of q10's
    * tumbling buckets. Spark's `window(ts, len, slide)` expands each event
    * into its len/slide = 2 covering windows map-side (a projection, not a
    * join), then one hash aggregation on the window start.
    *
    * Output is BIGINT epoch-seconds, not a timestamp (the q17 lesson:
    * integers canonicalize identically across engines). The same
    * expression runs unchanged under `readStream` with a watermark —
    * StreamingSpec's tumbling face generalizes. */
  def q58SlidingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "600 seconds", "300 seconds"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select(unix_seconds($"window.start").as("window_start_s"),
        $"n_events", $"sum_value")
      .orderBy($"window_start_s")
  }

  // Oracle: every event belongs to exactly length/hop = 2 windows — the
  // hop-aligned bucket of its timestamp and the one before. unnest of the
  // two candidate starts mirrors Spark's map-side window expansion.
  val q58Sql: String =
    s"""WITH e AS (SELECT epoch_us(ts) AS t_us, value FROM events),
       |w AS (
       |  SELECT unnest([(t_us // 300000000) * 300000000,
       |                 (t_us // 300000000) * 300000000 - 300000000]) AS ws_us,
       |         value
       |  FROM e)
       |SELECT ws_us // 1000000 AS window_start_s,
       | COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
       |FROM w
       |GROUP BY ws_us
       |ORDER BY window_start_s""".stripMargin

  /** One event-time day in microseconds; also the watermark delay the
    * streaming face uses ([[graft.streaming.EventStream.dailyRollup]]'s
    * `withWatermark("ts", "1 day")`). */
  val DayUs = 86400000000L

  /** q112: event-time skew audit at the watermark boundary — the batch
    * diagnostic behind CHOOSING a streaming watermark: per event-time
    * day, how many events arrive LATE (an earlier-arriving event of the
    * same user already carried a later event time), the worst observed
    * lateness, and how many such events a 1-day watermark — the delay
    * [[graft.streaming.EventStream.dailyRollup]] actually ships — would
    * DROP. Arrival order models SHARD-INTERLEAVED delivery — 7 transport
    * shards (event_id mod 7), each in-order, drained shard-by-shard: the
    * generator's events are time-ordered by event_id, so a straight
    * event_id arrival would make every skew column trivially zero and
    * the oracle would pin nothing. All comparisons are integer
    * microseconds and the day bucket is integer epoch-seconds (the
    * q17/q58 lesson: integers canonicalize identically across engines)
    * — exactly the NTZ↔TZ microsecond boundary arithmetic that the
    * round-9 testdata regeneration broke.
    *
    * Scale: one running-max window pass PARTITIONED BY user_id (never a
    * global sort), then a days-keyed aggregation with map-side partials
    * — two shuffles total, both on uniform keys. */
  def q112EventTimeSkew(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    skewCore(s, Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus")))
  }

  /** q112 body over an arbitrary (user_id, event_id, tus) frame (docs/SCALE.md
    * measures it on replicated corpora). */
  private[graft] def skewCore(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"event_id" % 7, $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("run_max", max($"tus").over(w))
      .groupBy((expr(s"tus div $DayUs") * lit(86400L)).as("day_s"))
      .agg(count(lit(1)).as("n_events"),
        sum(when($"run_max" > $"tus", 1L).otherwise(0L)).as("n_late"),
        max($"run_max" - $"tus").as("max_late_us"),
        sum(when($"run_max" - $"tus" > DayUs, 1L).otherwise(0L)).as("n_dropped"))
      .orderBy($"day_s")
  }

  // Oracle mirrors the integer-µs arithmetic; DuckDB reads the same
  // parquet as naive µs timestamps, so epoch_us(ts) == unix_micros(ts)
  // under the pinned UTC session.
  val q112Sql: String =
    s"""WITH o AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus,
       |    MAX(epoch_us(ts)) OVER (PARTITION BY user_id
       |      ORDER BY event_id % 7, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
       |  FROM events)
       |SELECT (tus // $DayUs) * 86400 AS day_s,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN run_max > tus THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       |  MAX(run_max - tus) AS max_late_us,
       |  CAST(SUM(CASE WHEN run_max - tus > $DayUs THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped
       |FROM o GROUP BY 1 ORDER BY day_s""".stripMargin

  /** q113: AS-OF join — point-in-time lookup, the operator behind "join
    * each fact row to the most recent dimension snapshot" (feature-store
    * reads, trade/quote matching, config-at-time-of-event attribution).
    * Spark has no native ASOF; the scalable composition is UNION +
    * RUNNING LAST: tag both sides, union, and carry the right side's
    * attributes forward with `last(ignoreNulls)` over a per-key window
    * ordered by (time, side) — one shuffle on the join key, linear in
    * rows, NO range-join blowup and no per-key collect. Here: each
    * click matches the latest same-user purchase with purchase.ts ≤
    * click.ts (ties at equal ts match — the right side sorts first).
    *
    * Purchases are first deduped to one per (user, µs) with the max
    * event_id winning, making the match UNIQUE and the whole result
    * deterministic in both engines — the oracle is DuckDB's native
    * `ASOF LEFT JOIN`, an independent implementation of the semantics
    * (IEJoin-based there, window-based here).
    *
    * Scale: one Exchange(user_id) + one in-partition sort serves the
    * union window; the purchase dedup pre-aggregates map-side. At 100 TB
    * the right side is typically the small dimension — the same plan
    * holds, and nothing is quadratic in either input. */
  def q113AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    asofCore(s, Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_micros($"ts").as("tus")))
  }

  /** q113 body over an arbitrary (user_id, event_id, event_type, value,
    * tus) frame — fixture specs pin the tie/dedup/unmatched semantics. */
  private[graft] def asofCore(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val purchases = ev.where($"event_type" === "purchase")
      .groupBy($"user_id", $"tus")
      .agg(max($"event_id").as("p_id"), max_by($"value", $"event_id").as("p_value"))
      .select($"user_id", $"tus", lit(0).as("side"),
        $"p_id", $"p_value", lit(null).cast("long").as("click_id"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"tus", lit(1).as("side"),
        lit(null).cast("long").as("p_id"), lit(null).cast("double").as("p_value"),
        $"event_id".as("click_id"))
    // side 0 sorts before side 1 at equal tus → purchase at the same
    // microsecond is visible to the click (ASOF's <= semantics)
    val w = Window.partitionBy($"user_id").orderBy($"tus", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // all three carries in ONE select → a single Window operator (chained
    // withColumn left a second Window node on the same sort — harmless
    // but a needless extra pass over each partition)
    purchases.unionByName(clicks)
      .select($"user_id", $"tus", $"side", $"click_id",
        last($"p_id", ignoreNulls = true).over(w).as("m_id"),
        last($"p_value", ignoreNulls = true).over(w).as("m_value"),
        last(when($"side" === 0, $"tus"), ignoreNulls = true).over(w).as("m_tus"))
      .where($"side" === 1)
      .select($"user_id", $"click_id",
        $"m_id".as("purchase_id"), $"m_value".as("purchase_value"),
        ($"tus" - $"m_tus").as("staleness_us"))
      .orderBy($"user_id", $"click_id")
  }

  val q113Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, value,
      |             epoch_us(ts) AS tus FROM events),
      |p AS (SELECT user_id, tus, MAX(event_id) AS p_id,
      |        arg_max(value, event_id) AS p_value
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |c AS (SELECT user_id, event_id AS click_id, tus
      |      FROM e WHERE event_type = 'click')
      |SELECT c.user_id, c.click_id, p.p_id AS purchase_id,
      |  p.p_value AS purchase_value, c.tus - p.tus AS staleness_us
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND p.tus <= c.tus
      |ORDER BY c.user_id, c.click_id""".stripMargin

  /** Interval width for [[q114IntervalJoin]]: 30 minutes in µs. */
  val IntervalUs = 1800000000L

  /** q114: RANGE (interval) join — "clicks in the 30 minutes before each
    * purchase", the attribution-window primitive. A naive range join is
    * quadratic per user; the scalable form BUCKETS time by the interval
    * width so every range predicate is satisfiable only within a row's
    * bucket or its predecessor: purchases expand to those 2 candidate
    * buckets map-side (the q58 window-expansion trick — a projection,
    * not a join), the join runs on (user_id, bucket) equality, and the
    * exact half-open range [p.ts − 30min, p.ts) filters the candidates.
    * Join fan-in per key is bounded by events-per-user-per-half-hour —
    * uniform at any corpus size; no interval ever scans another
    * interval's bucket chain.
    *
    * The oracle runs the same range predicate as a direct inequality
    * join (DuckDB's IEJoin) — an independent execution strategy
    * cross-checking the bucketed decomposition. */
  def q114IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    intervalCore(s, Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_micros($"ts").as("tus")))
  }

  /** Salted q114 for HUB keys (a bot user with millions of events in one
    * half-hour concentrates the (user, bucket) join key): clicks scatter
    * over `salt` sub-keys by event_id, purchase candidates replicate ×salt
    * map-side, the join runs on (user, bucket, salt) — per-task fan-in
    * drops by the salt factor — and the per-purchase aggregation is
    * salt-oblivious (count/sum partials merge). Result rows are IDENTICAL
    * to [[intervalCore]] (spec-pinned); the cost is a ×salt candidate
    * expansion on the (small) purchase side, the same trade the salted
    * coinstall join documents (SkewJoinSpec). */
  private[graft] def intervalCoreSalted(s: SparkSession, ev: DataFrame,
      salt: Int): DataFrame = {
    import s.implicits._
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", expr(s"tus div $IntervalUs").as("b"),
        ($"event_id" % salt).cast("int").as("sa"),
        $"tus".as("c_tus"), $"value".as("c_value"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("p_tus"))
    val matched = purchases
      .withColumn("b", explode(array(expr(s"p_tus div $IntervalUs"),
        expr(s"p_tus div $IntervalUs") - 1)))
      .withColumn("sa", explode(array((0 until salt).map(lit): _*)))
      .join(clicks, Seq("user_id", "b", "sa"))
      .where($"c_tus" >= $"p_tus" - IntervalUs && $"c_tus" < $"p_tus")
      .groupBy($"purchase_id")
      .agg(count(lit(1)).as("n_clicks"), dsum($"c_value").as("sum_click_value"))
    purchases.join(matched, Seq("purchase_id"), "left")
      .select($"user_id", $"purchase_id",
        coalesce($"n_clicks", lit(0L)).as("n_clicks"),
        coalesce($"sum_click_value", lit(0.0)).as("sum_click_value"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** [[intervalCoreSalted]] with the salt factor chosen by the q163
    * skew audit instead of a hand guess (VERDICT r15 item 4): the
    * audited key is the click side's user_id — the hub key whose
    * concentration the salting exists to break. A balanced frame audits
    * to a small salt (≤2, harmless); a hub frame audits to its ⌈skew⌉.
    * Costs one extra count-aggregation pass over the clicks (the
    * diagnosis); results are identical to [[intervalCore]] at ANY salt
    * (AsofRangeSpec pins hand-chosen ≡ audit-chosen ≡ unsalted). */
  private[graft] def intervalCoreAutoSalted(s: SparkSession,
      ev: DataFrame): DataFrame = {
    import s.implicits._
    val salt = graft.operators.SkewAudit.recommendedSalt(
      ev.where($"event_type" === "click"), "user_id")
    intervalCoreSalted(s, ev, salt)
  }

  /** q114 body over an arbitrary (user_id, event_id, event_type, value,
    * tus) frame — fixture specs pin the half-open range and the
    * bucket-boundary candidate expansion.
    *
    * JOIN STRATEGY AT SCALE (VERDICT r10 #4 — chosen, not inherited):
    * the candidate join is pure equality on (user_id, bucket), so the
    * planner has three options. Small corpus: the ×2-expanded purchase
    * side fits the broadcast threshold → BroadcastHashJoin, zero click
    * shuffle. Beyond the threshold (the 10× probe's observed
    * transition, SCALE.md): the INTENDED operator is SortMergeJoin on
    * (user_id, bucket) — both sides exchange once on a key whose fan-in
    * the bucketing already bounds, and SMJ's sort spills gracefully
    * where a shuffled-hash build side of a petabyte purchase table is
    * an OOM bet. No hint is planted — broadcast remains optimal below
    * the threshold and AQE picks it back up when a filter shrinks the
    * side at runtime — but the transition target is PINNED in PlanSpec
    * at both 1× and 10× row counts, so a planner/conf drift that lands
    * this join on a nested-loop or cartesian path fails CI. */
  private[graft] def intervalCore(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", expr(s"tus div $IntervalUs").as("b"),
        $"tus".as("c_tus"), $"value".as("c_value"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"tus".as("p_tus"))
    val matched = purchases
      .withColumn("b", explode(array(expr(s"p_tus div $IntervalUs"),
        expr(s"p_tus div $IntervalUs") - 1)))
      .join(clicks, Seq("user_id", "b"))
      .where($"c_tus" >= $"p_tus" - IntervalUs && $"c_tus" < $"p_tus")
      .groupBy($"purchase_id")
      .agg(count(lit(1)).as("n_clicks"), dsum($"c_value").as("sum_click_value"))
    purchases.join(matched, Seq("purchase_id"), "left")
      .select($"user_id", $"purchase_id",
        coalesce($"n_clicks", lit(0L)).as("n_clicks"),
        coalesce($"sum_click_value", lit(0.0)).as("sum_click_value"))
      .orderBy($"user_id", $"purchase_id")
  }

  val q114Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, value,
       |             epoch_us(ts) AS tus FROM events),
       |c AS (SELECT user_id, tus AS c_tus, value AS c_value
       |      FROM e WHERE event_type = 'click'),
       |p AS (SELECT user_id, event_id AS purchase_id, tus AS p_tus
       |      FROM e WHERE event_type = 'purchase'),
       |m AS (SELECT p.purchase_id, COUNT(*) AS n_clicks,
       |        ${graft.functions.Exact.sqlDsum("c.c_value")} AS sum_click_value
       |      FROM p JOIN c ON c.user_id = p.user_id
       |        AND c.c_tus >= p.p_tus - $IntervalUs AND c.c_tus < p.p_tus
       |      GROUP BY 1)
       |SELECT p.user_id, p.purchase_id,
       |  CAST(COALESCE(m.n_clicks, 0) AS BIGINT) AS n_clicks,
       |  COALESCE(m.sum_click_value, 0.0e0) AS sum_click_value
       |FROM p LEFT JOIN m USING (purchase_id)
       |ORDER BY user_id, purchase_id""".stripMargin

  /** q116: late-data divergence audit for the STREAMING AS-OF face —
    * q112's arrival-order arithmetic composed with q113's match
    * semantics (VERDICT r10 #5). [[graft.streaming.AsofStream]] documents
    * that its output equals the batch q113 only when each user's events
    * arrive in event-time order across micro-batches; this query makes
    * that divergence MEASURABLE: under the q112 shard-interleaved
    * delivery model (arrival order = (event_id mod 7, event_id) per
    * user), a click whose batch-matched purchase arrives AFTER it cannot
    * be matched at emit time — the stream answers with an earlier
    * purchase or none. Per click event-time day: total clicks, batch
    * matches, divergent clicks (the trigger-per-event bound — any real
    * micro-batching only merges arrivals and thus only reduces it), and
    * how many of those divergences even a 1-day-watermark reconciliation
    * pass could not repair because the purchase itself arrives more than
    * [[DayUs]] behind its user's observed event-time frontier (q112's
    * run_max lateness — the same events its n_dropped counts).
    *
    * All comparisons are integer µs / integer id arithmetic (the
    * q112/q113 discipline). Scale: q113's one key shuffle + q112's one
    * per-user window + a days-keyed aggregate — nothing new beyond the
    * plans already audited; the arrival comparison itself is a pure
    * projection (no rank join, the order tuple compares directly). */
  def q116AsofLateAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    asofLateCore(s, Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"value",
        unix_micros($"ts").as("tus")))
  }

  /** q116 body over an arbitrary (user_id, event_id, event_type, value,
    * tus) frame — AsofRangeSpec pins the watermark-boundary cases. */
  private[graft] def asofLateCore(s: SparkSession, ev: DataFrame): DataFrame = {
    import s.implicits._
    val matches = asofCore(s, ev)
    // per-EVENT arrival lateness vs the user's event-time frontier, in
    // the same shard-interleaved arrival order q112 audits
    val w = Window.partitionBy($"user_id")
      .orderBy($"event_id" % 7, $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lateness = ev
      .withColumn("run_max", max($"tus").over(w))
      .select($"event_id".as("purchase_id"),
        ($"run_max" - $"tus").as("p_late_us"))
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id".as("click_id"), $"tus".as("c_tus"))
    // purchase arrives after the click ⇔ its arrival tuple sorts later
    val divergent = $"purchase_id".isNotNull &&
      ($"purchase_id" % 7 > $"click_id" % 7 ||
        ($"purchase_id" % 7 === $"click_id" % 7 && $"purchase_id" > $"click_id"))
    matches.join(clicks, Seq("click_id"))
      .join(lateness, Seq("purchase_id"), "left")
      .groupBy((expr(s"c_tus div $DayUs") * lit(86400L)).as("day_s"))
      .agg(count(lit(1)).as("n_clicks"),
        sum(when($"purchase_id".isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(divergent, 1L).otherwise(0L)).as("n_divergent"),
        sum(when(divergent && $"p_late_us" > DayUs, 1L).otherwise(0L))
          .as("n_unrecoverable"))
      .orderBy($"day_s")
  }

  val q116Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, value,
       |             epoch_us(ts) AS tus FROM events),
       |p AS (SELECT user_id, tus, MAX(event_id) AS p_id
       |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
       |c AS (SELECT user_id, event_id AS click_id, tus
       |      FROM e WHERE event_type = 'click'),
       |m AS (SELECT c.user_id, c.click_id, c.tus AS c_tus, p.p_id AS purchase_id
       |      FROM c ASOF LEFT JOIN p
       |        ON c.user_id = p.user_id AND p.tus <= c.tus),
       |lt AS (SELECT event_id AS purchase_id,
       |         MAX(tus) OVER (PARTITION BY user_id
       |           ORDER BY event_id % 7, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tus
       |           AS p_late_us
       |       FROM e)
       |SELECT (m.c_tus // $DayUs) * 86400 AS day_s,
       |  COUNT(*) AS n_clicks,
       |  CAST(SUM(CASE WHEN m.purchase_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_matched,
       |  CAST(SUM(CASE WHEN m.purchase_id IS NOT NULL
       |    AND (m.purchase_id % 7 > m.click_id % 7
       |      OR (m.purchase_id % 7 = m.click_id % 7
       |        AND m.purchase_id > m.click_id)) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_divergent,
       |  CAST(SUM(CASE WHEN m.purchase_id IS NOT NULL
       |    AND (m.purchase_id % 7 > m.click_id % 7
       |      OR (m.purchase_id % 7 = m.click_id % 7
       |        AND m.purchase_id > m.click_id))
       |    AND lt.p_late_us > $DayUs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_unrecoverable
       |FROM m LEFT JOIN lt USING (purchase_id)
       |GROUP BY 1 ORDER BY day_s""".stripMargin

  // ---- q137: EWMA anomaly detection (integer-exact) ----

  /** EWMA window depth: with α = 1/2, weights halve per step and an
    * 8-deep window carries >99.6% of the infinite-history mass — deeper
    * lags change the prediction by less than one weight unit. */
  private[graft] val EwmaDepth = 8

  /** Anomaly threshold in cents: |x − ewma(prior)| > $150. */
  private[graft] val EwmaThresholdCents = 15000L

  /** q137: per-user EWMA anomaly detection over the event stream — the
    * rate/metric-spike monitor every ingestion pipeline runs (flag an
    * event whose value departs from the user's exponentially-weighted
    * recent history). The textbook EWMA is an unbounded recursion
    * (s_t = αx_t + (1−α)s_{t−1}) — not expressible as a frame-bounded
    * window and driver-recursive if forced; with α = 1/2 the weights
    * are exact powers of two, so an [[EwmaDepth]]-deep truncation
    * carries all but 2^-8 of the mass AND turns the whole computation
    * into INTEGER arithmetic on cents:
    *
    *   num = Σ_{k=1..8} lag(x,k)·2^(8−k)   den = Σ_{k present} 2^(8−k)
    *   anomaly ⇔ |x·den − num| > T·den     (cross-multiplied — no division)
    *
    * den self-normalizes the partial windows at each user's history
    * head, and every quantity is a BIGINT on exact cents
    * (DECIMAL(18,4)·100), so the flag is hash-exact across engines —
    * no float EWMA ulp drift can flip a verdict at the threshold.
    *
    * Scale: ONE window pass partitioned by user (the 8 lags evaluate in
    * a single WindowExec over one hash exchange), and the rollup
    * groupBy rides the window's existing user_id partitioning — one
    * shuffle total, no global ordering anywhere. */
  def q137EwmaAnomaly(s: SparkSession, dir: String): DataFrame =
    ewmaAnomalyCore(s, Tables.events(s, dir))

  /** Exact cents from a double value column — FLOOR of the exact
    * DECIMAL(18,4)·100 in BOTH engines (a bare decimal→long cast
    * truncates in Spark but ROUNDS in the oracle engine; floor is
    * identical in both for the non-negative money values here, and a
    * no-op while inputs honor Exact.scala's ≤2-fractional-digit
    * contract). Single-sourced: the streaming face's equivalence
    * depends on this exact expression (review finding). */
  private[graft] def centsOf(c: Column): Column =
    floor(decCol(c) * 100).cast("long")

  /** The [[centsOf]] mirror for oracle SQL text. */
  private[graft] val centsSql: String =
    "CAST(floor(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT)"

  /** q137 core over any (user_id, ts, event_id, value) frame — spec
    * entry point. */
  private[graft] def ewmaAnomalyCore(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val xc = centsOf($"value")
    val num = (1 to EwmaDepth).map { k =>
      coalesce(lag($"xc", k).over(w), lit(0L)) * lit(1L << (EwmaDepth - k))
    }.reduce(_ + _)
    val den = (1 to EwmaDepth).map { k =>
      lag($"xc", k).over(w).isNotNull.cast("long") * lit(1L << (EwmaDepth - k))
    }.reduce(_ + _)
    val scored = $"den" > 0L
    val anom = scored && abs($"xc" * $"den" - $"num") >
      lit(EwmaThresholdCents) * $"den"
    events
      .select($"user_id", $"ts", $"event_id", xc.as("xc"))
      .withColumn("num", num).withColumn("den", den)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"),
        scored.cast("long").as("scored"), anom.cast("long").as("anom"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"scored").as("n_scored"),
        sum($"anom").as("n_anomalies"),
        // FIRST anomaly in event-TIME order (ids need not be monotone in
        // ts — min(event_id) alone would name a later anomaly, review
        // finding); struct min orders by (tus, event_id)
        min(when($"anom" === 1L,
          struct($"tus".as("t"), $"event_id".as("id"))))
          .getField("id").as("first_anomaly_id"))
      .orderBy($"user_id")
  }

  val q137Sql: String = {
    val numTerms = (1 to EwmaDepth).map(k =>
      s"COALESCE(lag(xc, $k) OVER uw, 0) * ${1L << (EwmaDepth - k)}")
      .mkString(" + ")
    val denTerms = (1 to EwmaDepth).map(k =>
      s"CASE WHEN lag(xc, $k) OVER uw IS NULL THEN 0 ELSE ${1L << (EwmaDepth - k)} END")
      .mkString(" + ")
    s"""SELECT user_id, COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN den > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       |  CAST(SUM(CASE WHEN den > 0 AND abs(xc*den - num) > ${EwmaThresholdCents}*den
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       |  MIN(CASE WHEN den > 0 AND abs(xc*den - num) > ${EwmaThresholdCents}*den
       |      THEN {'t': tus, 'id': event_id} END).id AS first_anomaly_id
       |FROM (
       |  SELECT user_id, event_id, epoch_us(ts) AS tus,
       |    xc, ($numTerms) AS num, ($denTerms) AS den
       |  FROM (SELECT user_id, ts, event_id, $centsSql AS xc
       |        FROM events)
       |  WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id))
       |GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---- q144: event-type transition matrix ----

  /** q144: first-order Markov transition counts over per-user event
    * sequences — the behavioral-model input (and funnel-diagnosis dual
    * of q67's top-path mining, which keeps whole sequences; this keeps
    * the EDGE statistics): for consecutive events of the same user in
    * (ts, event_id) order, count every (from_type → to_type) step and
    * carry the from-row total so the transition PROBABILITY is the
    * downstream rational n_trans/n_from — integers only, no float at
    * the gate.
    *
    * Scale: one window pass partitioned by user (the lag evaluates in
    * a single WindowExec) + one aggregation on the tiny (from, to)
    * domain with map-side combine; the row-total join is a broadcast
    * of a type-count frame. */
  def q144TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val steps = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("from_type", lag($"event_type", 1).over(w))
      .where($"from_type".isNotNull)
      .select($"from_type", $"event_type".as("to_type"))
    val trans = steps.groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n_trans"))
    val fromTot = trans.groupBy($"from_type").agg(sum($"n_trans").as("n_from"))
    trans.join(broadcast(fromTot), Seq("from_type"))
      .select($"from_type", $"to_type", $"n_trans", $"n_from")
      .orderBy($"from_type", $"to_type")
  }

  val q144Sql: String =
    """WITH steps AS (
      |  SELECT lag(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS from_type,
      |         event_type AS to_type
      |  FROM events),
      |trans AS (
      |  SELECT from_type, to_type, COUNT(*) AS n_trans
      |  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
      |        FROM trans GROUP BY 1)
      |SELECT t.from_type, t.to_type, t.n_trans, o.n_from
      |FROM trans t JOIN tot o USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** q11: sha-256 row-key hashing (P5, taar_utils.py:110-116 — the Bigtable
    * row key). Spark's built-in `sha2` is codegen'd; no UDF. */
  def q11Sha2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .select($"c_custkey", sha2($"c_name", 256).as("key_hash"))
      .orderBy($"c_custkey")
  }

  val q11Sql: String =
    """SELECT c_custkey, sha256(c_name) AS key_hash
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** q12: JSON field extraction + safe cast + arithmetic (P10 + P2 —
    * `SAFE_CAST(x * 3600 AS int64)` of taar_profile_bigtable.py:78 over a
    * JSON props payload). try_cast returns null on malformed input instead
    * of failing the job (X6 permissive-parse semantics). */
  def q12JsonTryCast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        (expr("try_cast(get_json_object(props, '$.k') AS bigint)") * 3600L)
          .as("k_seconds"))
      .orderBy($"event_id")
  }

  val q12Sql: String =
    """SELECT event_id,
      | TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) * 3600 AS k_seconds
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** q13: URL build + parse-back (P8, taar_amodump.py:106-110,199-200 —
    * format URLs, then recover the key from the URL by split; exercises
    * element_at with negative indices = O2 positional selection). */
  def q13UrlBuildParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        concat(lit("https://host/api/"), $"source", lit("/"),
               $"doc_id".cast("string")).as("url"))
      .withColumn("parsed_id", element_at(split($"url", "/"), -1).cast("long"))
      .withColumn("parsed_source", element_at(split($"url", "/"), -2))
      .orderBy($"doc_id")
  }

  val q13Sql: String =
    """SELECT doc_id, url,
      | CAST(string_split(url, '/')[-1] AS BIGINT) AS parsed_id,
      | string_split(url, '/')[-2] AS parsed_source
      |FROM (
      |  SELECT doc_id,
      |    concat('https://host/api/', source, '/', CAST(doc_id AS VARCHAR)) AS url
      |  FROM documents
      |)
      |ORDER BY doc_id""".stripMargin

  /** q14: data-quality gate aggregate (A5 + F12, the ShortWhitelistError
    * count guard of taar_update_whitelist.py:70-73 as a single-row audit). */
  def q14QualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .agg(count(lit(1)).as("n_rows"),
           countDistinct($"user_id").as("n_users"),
           min($"ts").as("min_ts"),
           max($"ts").as("max_ts"))
  }

  val q14Sql: String =
    """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users,
      | MIN(ts) AS min_ts, MAX(ts) AS max_ts
      |FROM events""".stripMargin

  /** q15: EXISTS over an array of structs via higher-order function (F8,
    * taar_utils.py:86-97 — `any(f.is_webextension for f in files)`).
    * Built here by collecting order lines into an array and applying
    * `exists`; semantically equal to a grouped HAVING max(...). */
  def q15HofExists(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(collect_list(struct($"l_discount", $"l_quantity")).as("items"))
      .where(exists($"items", i => i("l_discount") >= 0.09))
      .select($"l_orderkey")
      .orderBy($"l_orderkey")
  }

  val q15Sql: String =
    """SELECT l_orderkey
      |FROM lineitem
      |GROUP BY l_orderkey
      |HAVING MAX(l_discount) >= 0.09
      |ORDER BY l_orderkey""".stripMargin

  /** q16: positional first/last element per group (O2, `results[-1]` /
    * `files[0]` of taar_amodump.py:201, taar_amowhitelist.py:84).
    * (l_orderkey, l_linenumber) is NOT unique in the data, so the ordering
    * key is the composite l_linenumber*1e8 + l_partkey — deterministic
    * across engines (ties only between identical partkey values). */
  def q16FirstLast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = $"l_linenumber".cast("long") * 100000000L + $"l_partkey"
    Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(min_by($"l_partkey", ord).as("first_part"),
           max_by($"l_partkey", ord).as("last_part"),
           count(lit(1)).as("n_lines"))
      .orderBy($"l_orderkey")
  }

  val q16Sql: String =
    """SELECT l_orderkey,
      | arg_min(l_partkey, CAST(l_linenumber AS BIGINT)*100000000 + l_partkey) AS first_part,
      | arg_max(l_partkey, CAST(l_linenumber AS BIGINT)*100000000 + l_partkey) AS last_part,
      | COUNT(*) AS n_lines
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  /** q17: sessionization — split each user's event stream at >30-minute
    * gaps via lag + conditional running sum (the classic batch
    * sessionize; the streaming face lives in graft.streaming). Exercises
    * ordered analytic windows (lag, running sum) beyond rank. */
  def q17Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val newSession = when(
      $"ts".cast("long") - lag($"ts", 1).over(byUser).cast("long") > 1800, 1
    ).otherwise(0)
    Tables.events(s, dir)
      .withColumn("new_s", newSession)
      .withColumn("session_id", sum($"new_s")
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(unix_micros(min($"ts")).as("session_start_us"),
           count(lit(1)).as("n_events"),
           dsum($"value").as("sum_value"))
      .orderBy($"user_id", $"session_id")
  }

  // session_id: DuckDB's windowed SUM yields HUGEINT — CAST to BIGINT so a
  // type-sensitive hasher sees the same integer type Spark emits.
  // session_start: emitted as BIGINT epoch-microseconds on both sides —
  // integers canonicalize identically across engines, timestamps may not.
  val q17Sql: String =
    s"""SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       | CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
       | COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
       |FROM (
       |  SELECT user_id, ts, value,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                     ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM (
       |    SELECT user_id, event_id, ts, value,
       |      CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
       |           THEN 1 ELSE 0 END AS new_s
       |    FROM events))
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** q18: HLL approximate distinct (the "novel sketch" slot).
    * rsd = 0.05 (Spark's default): 0.01 forces ~2^17 HLL registers per
    * group per partition, which made this the slowest bench query in
    * round 1 (6.5s) for precision nobody asked for — a cardinality
    * estimate's job is magnitude, not percent accuracy.
    *
    * Oracle-checked as a BOUND (round 5): the estimate itself is
    * engine-specific, but |hll − exact| ≤ 3·rsd·exact is the sketch's
    * contract, so Spark computes both the sketch and its exact dual and
    * emits the per-group verdict; the oracle recomputes the exact side
    * and asserts the verdict is uniformly true. (Production runs the
    * sketch WITHOUT the exact-dual expand — that is its point; this is
    * the verification query. The one-pass production face is pinned in
    * ExtensionsSpec.) */
  def q18ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rsd = 0.05
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", rsd).as("approx_parts"),
           countDistinct($"l_partkey").as("exact_parts"),
           count(lit(1)).as("n_rows"))
      .select($"l_returnflag", $"exact_parts", $"n_rows",
        (abs($"approx_parts" - $"exact_parts").cast("double")
          <= lit(3 * rsd) * $"exact_parts".cast("double")).as("within_bound"))
      .orderBy($"l_returnflag")
  }

  val q18Sql: String =
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS exact_parts,
      |       COUNT(*) AS n_rows,
      |       TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q19: set operations — INTERSECT / UNION (distinct) / EXCEPT over
    * event-type user cohorts (§2.8: the reference only dedups; full set
    * algebra is table-stakes engine surface). */
  def q19SetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    def cohort(t: String) = ev.where($"event_type" === t).select($"user_id")
    // except-cohort is value-conditioned (rare) so the result is
    // non-trivial at every scale factor
    val bigSpenders = ev.where($"event_type" === "purchase" && $"value" > 195)
      .select($"user_id")
    cohort("purchase").intersect(cohort("error"))
      .union(cohort("signup")).distinct()
      .except(bigSpenders)
      .orderBy($"user_id")
  }

  val q19Sql: String =
    """SELECT user_id FROM (
      |  SELECT user_id FROM (
      |    SELECT user_id FROM events WHERE event_type = 'purchase'
      |    INTERSECT
      |    SELECT user_id FROM events WHERE event_type = 'error')
      |  UNION
      |  SELECT user_id FROM events WHERE event_type = 'signup')
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 195
      |ORDER BY user_id""".stripMargin

  /** q44: as-of join — each purchase picks up the user's latest signup
    * value at or before the purchase time (graft.operators.AsOfJoin:
    * union+window, ONE shuffle; oracle = DuckDB's native ASOF LEFT JOIN). */
  def q44AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val signups = ev.where($"event_type" === "signup")
      .select($"user_id", $"ts".as("s_ts"), $"value".as("signup_value"))
    graft.operators.AsOfJoin
      .asOf(purchases, signups, "user_id", "ts", "s_ts", Seq("signup_value"))
      .orderBy($"event_id")
  }

  val q44Sql: String =
    """SELECT p.user_id, p.ts, p.event_id, s.signup_value
      |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN
      |  (SELECT user_id, ts, value AS signup_value FROM events WHERE event_type = 'signup') s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin

  /** q45: range (band) join — events bucketed into value bands via an
    * inequality join against a broadcast band table (small side broadcast
    * → BroadcastNestedLoopJoin; no shuffle of the fact side). */
  def q45RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("band_00_050", 0.0, 50.0), ("band_05_100", 50.0, 100.0),
      ("band_10_150", 100.0, 150.0), ("band_15_200", 150.0, 200.0),
      ("band_20_inf", 200.0, 1e18)).toDF("band", "lo", "hi")
    Tables.events(s, dir)
      .join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .orderBy($"band")
  }

  val q45Sql: String =
    s"""SELECT b.band, COUNT(*) AS n_events, ${sqlDsum("e.value")} AS sum_value
       |FROM events e JOIN (VALUES
       |  ('band_00_050', 0.0, 50.0), ('band_05_100', 50.0, 100.0),
       |  ('band_10_150', 100.0, 150.0), ('band_15_200', 150.0, 200.0),
       |  ('band_20_inf', 200.0, 1e18)) b(band, lo, hi)
       |  ON e.value >= b.lo AND e.value < b.hi
       |GROUP BY b.band
       |ORDER BY b.band""".stripMargin

  /** q46: pivot — daily event counts reshaped to one column per event
    * type. The oracle uses portable FILTER aggregation (identical
    * semantics to Spark's pivot with a pinned column list — pinning
    * avoids the extra distinct-values job at scale). */
  def q46Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy(to_date($"ts").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy($"day")
  }

  val q46Sql: String =
    """SELECT CAST(ts AS DATE) AS day,
      | COUNT(*) FILTER (event_type = 'click') AS click,
      | COUNT(*) FILTER (event_type = 'error') AS error,
      | COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      | COUNT(*) FILTER (event_type = 'signup') AS signup,
      | COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events
      |GROUP BY CAST(ts AS DATE)
      |ORDER BY day""".stripMargin

  /** q47: exact interpolated percentiles (median / p90) — Spark's
    * `percentile` and DuckDB's `quantile_cont` share the linear-
    * interpolation definition, so exact values hash-match. */
  def q47Percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
           expr("percentile(o_totalprice, 0.9)").as("p90_price"),
           count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q47Sql: String =
    """SELECT o_orderpriority,
      | quantile_cont(o_totalprice, 0.5) AS median_price,
      | quantile_cont(o_totalprice, 0.9) AS p90_price,
      | COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q48: portable statistics from exact decimal moments — stddev/variance
    * accumulated natively differ across engines in the last ulps, so both
    * sides derive them from EXACT sums (n, Σx, Σx²) with the identical
    * final double formula: var = (Σx² - (Σx)²/n) / n. */
  def q48MomentStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sx = dsum($"l_quantity")
    val sx2 = dsumProd($"l_quantity", $"l_quantity")
    val n = count(lit(1)).cast("double")
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(((sx2 - sx * sx / n) / n).as("var_pop"),
           sqrt((sx2 - sx * sx / n) / n).as("stddev_pop"),
           (sx / n).as("mean_qty"),
           count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  val q48Sql: String = {
    val sx = sqlDsum("l_quantity")
    val sx2 = sqlDsumProd("l_quantity", "l_quantity")
    val n = "CAST(COUNT(*) AS DOUBLE)"
    s"""SELECT l_returnflag,
       | (($sx2 - $sx * $sx / $n) / $n) AS var_pop,
       | sqrt(($sx2 - $sx * $sx / $n) / $n) AS stddev_pop,
       | ($sx / $n) AS mean_qty,
       | COUNT(*) AS n_rows
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin
  }

  /** q50: latest-per-key compaction (the CDC/upsert pattern: among many
    * versions of a key, keep the newest). WindowGroupLimit applies, so
    * each partition keeps one row per key before the shuffle. */
  def q50LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"ts".as("last_ts"), $"event_type".as("last_event"),
        $"value".as("last_value"))
      .orderBy($"user_id")
  }

  val q50Sql: String =
    """SELECT user_id, ts AS last_ts, event_type AS last_event, value AS last_value
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** q51: CDC MERGE/upsert — fold a change stream (orders as synthetic
    * CDC events on the customer snapshot: latest order updates the
    * balance; a latest 'F' order deletes the customer) into the base via
    * operators.ApplyChanges (latest-per-key + full-outer merge + delete
    * filter as one operator). */
  def q51ApplyChanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_acctbal")
    val changes = Tables.orders(s, dir).select(
      $"o_custkey".as("c_custkey"),
      when($"o_orderstatus" === "F", lit("D")).otherwise(lit("U")).as("op"),
      $"o_orderdate", $"o_orderkey",
      $"o_totalprice".as("c_acctbal"))
    graft.operators.ApplyChanges(base, changes, Seq("c_custkey"),
        Seq($"o_orderdate", $"o_orderkey"), "op", "D")
      .select($"c_custkey", $"c_name", $"c_acctbal".as("balance"))
      .orderBy($"c_custkey")
  }

  val q51Sql: String =
    """WITH latest AS (
      |  SELECT * FROM (
      |    SELECT o_custkey AS c_custkey, o_totalprice,
      |      CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
      |      ROW_NUMBER() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders)
      |  WHERE rn = 1)
      |SELECT COALESCE(c.c_custkey, l.c_custkey) AS c_custkey, c.c_name,
      |  COALESCE(l.o_totalprice, c.c_acctbal) AS balance
      |FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.c_custkey
      |WHERE l.op IS NULL OR l.op <> 'D'
      |ORDER BY c_custkey""".stripMargin

  /** q52: ROLLUP — hierarchical subtotals in one pass (Spark expands
    * grouping sets into a single Expand + hash agg, not N scans).
    * Subtotal rows surface as 'ALL' via coalesce so both engines emit
    * identical strings and no null-ordering divergence can bite. */
  def q52Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .withColumn("qty_dec", decCol($"l_quantity")) // cast below the Expand
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"), dsumPre($"qty_dec").as("sum_qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n_rows", $"sum_qty")
      .orderBy($"returnflag", $"linestatus")
  }

  val q52Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  COUNT(*) AS n_rows, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** q55: CUBE — all grouping-set combinations (4 sets here) in the same
    * single-scan Expand+agg plan as q52's rollup. */
  def q55Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .withColumn("price_dec", decCol($"l_extendedprice")) // cast below the Expand
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"), dsumPre($"price_dec").as("sum_price"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n_rows", $"sum_price")
      .orderBy($"returnflag", $"linestatus")
  }

  val q55Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  COUNT(*) AS n_rows, ${sqlDsum("l_extendedprice")} AS sum_price
       |FROM lineitem
       |GROUP BY CUBE(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** q53: the analytic-window suite beyond rank/lag — ntile buckets,
    * lead deltas, percent_rank/cume_dist (rounded to 6 so float repr
    * can't flip the hash), all over one user-ordered window. */
  def q53WindowAnalytics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gap = $"ts".cast("long") - lag($"ts", 1).over(w).cast("long")
    Tables.events(s, dir)
      .select($"user_id", $"event_id",
        ntile(4).over(w).as("quartile"),
        coalesce(gap, lit(0L)).as("gap_s"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"),
        (coalesce(lead($"value", 1).over(w), lit(0.0)) - $"value").as("next_delta"))
      .orderBy($"user_id", $"event_id")
  }

  val q53Sql: String =
    """SELECT user_id, event_id,
      |  NTILE(4) OVER w AS quartile,
      |  COALESCE(CAST(floor(epoch(ts)) AS BIGINT)
      |    - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT), 0) AS gap_s,
      |  round(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |  round(CUME_DIST() OVER w, 6) AS cdist,
      |  COALESCE(LEAD(value, 1) OVER w, 0.0) - value AS next_delta
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** q54: UNPIVOT/melt — wide metrics to long (id, metric, val) form,
    * the feature-table reshape; map-only (Expand node, no shuffle). */
  def q54Unpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select($"p_partkey", $"p_size".cast("double").as("p_size"), $"p_retailprice")
      .unpivot(Array($"p_partkey"), Array($"p_size", $"p_retailprice"),
        "metric", "val")
      .orderBy($"p_partkey", $"metric")
  }

  val q54Sql: String =
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  // ---- q60: ordered conversion funnel over first-touch timestamps ----

  /** q60: first-touch funnel view → click → purchase. A user reaches a
    * stage iff their FIRST event of that type happened strictly after
    * their first event of the previous stage (classic first-touch funnel
    * semantics — later out-of-order repeats don't resurrect a stage).
    *
    * Scale design: one shuffle on user_id with map-side partial min's
    * (conditional `min(when(...))` aggregates), then a single global
    * 1-row reduce for the stage counts. No window, no self-join — the
    * events table is read once, map-only until the user_id exchange. */
  def q60Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val firstTouch = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"ts")).as("t_view"),
        min(when($"event_type" === "click", $"ts")).as("t_click"),
        min(when($"event_type" === "purchase", $"ts")).as("t_purchase"))
    val s2 = $"t_view".isNotNull && $"t_click" > $"t_view"
    firstTouch
      .select(
        when($"t_view".isNotNull, 1L).otherwise(0L).as("s1"),
        when(s2, 1L).otherwise(0L).as("s2"),
        when(s2 && $"t_purchase" > $"t_click", 1L).otherwise(0L).as("s3"))
      .agg(
        sum($"s1").as("users_view"),
        sum($"s2").as("users_click_after_view"),
        sum($"s3").as("users_purchase_after_click"))
  }

  val q60Sql: String =
    """WITH ft AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT
      |  CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
      |       AS BIGINT) AS users_view,
      |  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
      |      THEN 1 ELSE 0 END) AS BIGINT) AS users_click_after_view,
      |  CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
      |       AND t_purchase > t_click THEN 1 ELSE 0 END)
      |       AS BIGINT) AS users_purchase_after_click
      |FROM ft""".stripMargin

  // ---- q67: event path mining (consecutive-trigram extraction) ----

  val PathTopK = 10

  /** q67: most common 3-step behavioral paths — consecutive event-type
    * trigrams per user in time order, counted corpus-wide, top-10.
    *
    * Scale design: one shuffle on user_id for the lead() window (per-user
    * event sequences are small and bounded), one shuffle on the trigram
    * string for the count (partial map-side), and the top-k is
    * orderBy+limit = TakeOrderedAndProject (per-partition heaps).
    * Ordering ties are impossible: (ts, event_id) is unique per user. */
  def q67PathMining(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .where($"e3".isNotNull)
      .select(concat_ws(">", $"event_type", $"e2", $"e3").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"path")
      .limit(PathTopK)
  }

  val q67Sql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
       |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
       |  FROM events)
       |SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS cnt
       |FROM seq WHERE e3 IS NOT NULL
       |GROUP BY 1 ORDER BY cnt DESC, path LIMIT $PathTopK""".stripMargin

  // ---- q76: blocked fuzzy match (entity resolution) ----

  val FuzzyMaxDist = 3

  /** q76: entity resolution over the part-name dictionary — pairs of
    * DISTINCT names within edit distance [[FuzzyMaxDist]], candidates
    * from MULTI-PASS blocking: one pass keyed on the head noun (last
    * token), one on the first token, candidate sets unioned and deduped.
    * The data-cleaning / record-linkage primitive: find "blue bolt" ≈
    * "old bolt" without comparing every name to every name.
    *
    * Single-pass head-noun blocking measurably lost 16 of 96 true pairs
    * at sf0.001 (pairs like "blue bolt" ≈ "blue belt" differ in the
    * blocking token itself — FuzzyBlockingSpec); the second pass is the
    * standard recall repair: a true pair is missed only if the names
    * disagree on BOTH the first and last token, which ≤3 edits rarely
    * buys. Recall is MEASURED against full-quadratic ground truth
    * (≥ 0.95 pinned in FuzzyBlockingSpec), not assumed.
    *
    * Scale design: names collapse to the DISTINCT dictionary before
    * anything quadratic (2000 parts → 64 names here; real catalogs
    * compress similarly), each pass's self-join keys on its blocking
    * token so candidate pairs grow with block sizes, not dictionary²,
    * and each pass is individually skew-bounded (largest block ≤ ¼
    * dictionary, also pinned). The edit distance (codegen'd built-in —
    * integer result, identical in both engines) runs only on deduped
    * in-block candidates. Skew-prone hot blocks would take the q26
    * salting treatment. */
  def q76FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Tables.part(s, dir)
      .select($"p_name").distinct()
      .withColumn("noun", element_at(split($"p_name", " "), -1))
      .withColumn("head", element_at(split($"p_name", " "), 1))
    def pass(key: String) = names.as("a")
      .join(names.as("b"),
        col(s"a.$key") === col(s"b.$key") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
    pass("noun").union(pass("head")).distinct()
      .select($"name_a", $"name_b",
        levenshtein($"name_a", $"name_b").cast("long").as("dist"))
      .where($"dist" <= FuzzyMaxDist)
      .orderBy($"name_a", $"name_b")
  }

  val q76Sql: String =
    s"""WITH n AS (
       |  SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS noun,
       |         string_split(p_name, ' ')[1] AS head
       |  FROM part),
       |cand AS (
       |  SELECT a.p_name AS name_a, b.p_name AS name_b
       |  FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name
       |  UNION
       |  SELECT a.p_name AS name_a, b.p_name AS name_b
       |  FROM n a JOIN n b ON a.head = b.head AND a.p_name < b.p_name)
       |SELECT name_a, name_b,
       |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
       |FROM cand
       |WHERE levenshtein(name_a, name_b) <= $FuzzyMaxDist
       |ORDER BY name_a, name_b""".stripMargin

  // ---- q75: weekly cohort retention ----

  /** q75: the cohort-retention matrix — users grouped by first-activity
    * week, each cell counting how many of a cohort were active `offset`
    * weeks later. The product-analytics standard for "do users come
    * back", and a shape (self-referential temporal grouping) none of the
    * other queries cover.
    *
    * Scale design: activity is first reduced to DISTINCT (user, week) —
    * events collapse by ~weekly frequency before anything else — the
    * cohort frame reaggregates that reduced set, joins back keyed on
    * user_id (broadcast-able: one row per user), and the matrix agg
    * shuffles (cohort, offset) cells only. */
  def q75CohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val uw = Tables.events(s, dir)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("w"))
      .distinct()
    val cohort = uw.groupBy($"user_id").agg(min($"w").as("cohort_week"))
    uw.join(cohort, Seq("user_id"))
      .groupBy($"cohort_week",
        expr("datediff(w, cohort_week) div 7").as("week_offset"))
      .agg(count_distinct($"user_id").as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val q75Sql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(w) AS cohort_week FROM uw GROUP BY 1)
      |SELECT c.cohort_week,
      |  CAST((uw.w - c.cohort_week) // 7 AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT uw.user_id) AS n_users
      |FROM uw JOIN cohort c USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---- q74: data-quality audit (expectations pass) ----

  /** q74: the constraint-validation pass a pipeline runs before training
    * or publishing — one audit row of expectation metrics over lineitem:
    * row count, null counts, range violations (quantity ≤ 0, discount
    * outside [0,1]), candidate-key duplicate count, and the observed
    * date span. Nonzero violation cells gate the run (compare F12's
    * count-threshold guard); emitting the metrics row keeps the gate
    * auditable.
    *
    * Scale design: every conditional metric folds into ONE partial-
    * aggregated scan; the only second shuffle is the distinct candidate
    * key count (expand-free: count_distinct of a struct). No row leaves
    * the executors — the audit row is the whole result. */
  def q74DataQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count($"l_shipdate")).as("null_shipdate"),
      (count(lit(1)) - count($"l_quantity")).as("null_quantity"),
      sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("bad_quantity"),
      sum(when($"l_discount" < 0 || $"l_discount" > 1, 1L).otherwise(0L))
        .as("bad_discount"),
      (count(lit(1)) -
        count_distinct(struct($"l_orderkey", $"l_linenumber"))).as("dup_keys"),
      to_date(min($"l_shipdate")).as("min_ship"),
      to_date(max($"l_shipdate")).as("max_ship"))
  }

  val q74Sql: String =
    """SELECT
      |  COUNT(*) AS n_rows,
      |  COUNT(*) - COUNT(l_shipdate) AS null_shipdate,
      |  COUNT(*) - COUNT(l_quantity) AS null_quantity,
      |  CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS bad_quantity,
      |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS bad_discount,
      |  COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_keys,
      |  CAST(MIN(l_shipdate) AS DATE) AS min_ship,
      |  CAST(MAX(l_shipdate) AS DATE) AS max_ship
      |FROM lineitem""".stripMargin

  // ---- q73: time-series resample + forward fill ----

  /** q73: per-user daily resample — build the complete daily spine from
    * each user's first to last active day, left-join the observed daily
    * totals, and FORWARD-FILL gaps with the last observation
    * (`last(ignoreNulls)` running window — the same carry-state idiom the
    * as-of join composes on). Gap days keep a NULL observed value plus
    * the filled carry and a gap flag, so downstream consumers can tell
    * measured from imputed.
    *
    * Scale design: the daily aggregate is one shuffle; the spine explode
    * is map-side over per-user (first, last) bounds — rows grow by span
    * days, not events²; the fill window shuffles once on user_id with
    * per-user state = one running value. Observed values go through the
    * exact decimal sum so the fill carries engine-identical doubles. */
  def q73ResampleFfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy($"user_id", to_date($"ts").as("d"))
      .agg(dsum($"value").as("day_value"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"d").as("mn"), max($"d").as("mx"))
      .select($"user_id",
        explode(sequence($"mn", $"mx", expr("interval 1 day"))).as("d"))
    val w = Window.partitionBy($"user_id").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(daily, Seq("user_id", "d"), "left_outer")
      .select($"user_id", $"d", $"day_value",
        last($"day_value", ignoreNulls = true).over(w).as("filled"),
        $"day_value".isNull.cast("int").as("is_gap"))
      .orderBy($"user_id", $"d")
  }

  val q73Sql: String =
    s"""WITH daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    ${sqlDsum("value")} AS day_value
       |  FROM events GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS d
       |  FROM (SELECT user_id, MIN(d) mn, MAX(d) mx FROM daily GROUP BY 1)),
       |j AS (
       |  SELECT s.user_id, s.d, daily.day_value
       |  FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d)
       |SELECT user_id, d, day_value,
       |  LAST_VALUE(day_value IGNORE NULLS) OVER (
       |    PARTITION BY user_id ORDER BY d
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       |  CAST(day_value IS NULL AS INT) AS is_gap
       |FROM j
       |ORDER BY user_id, d""".stripMargin

  // ---- q68: six-table star join (TPC-H Q5 shape) ----

  /** q68: revenue per nation for one region and a 2-year order window,
    * across customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region
    * with the co-nationality constraint — the classic snowflake probe of
    * join ordering and broadcast planning.
    *
    * Scale design: the date filter sits ON the orders scan (pushed to
    * parquet), the three true dimensions (supplier, nation, region) are
    * explicit broadcasts — no shuffle for them at any fact size — while
    * orders⋈customer and lineitem⋈orders stay shuffle joins keyed on
    * their natural keys (AQE picks broadcast when a side turns out tiny
    * post-filter). Revenue goes through the exact decimal path so the
    * result is partitioning-independent. */
  def q68StarJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .where($"o_orderdate" >= lit("1996-01-01").cast("date") &&
        $"o_orderdate" < lit("1998-01-01").cast("date"))
    val cust = Tables.customer(s, dir)
    val li   = Tables.lineitem(s, dir)
    val sup  = Tables.supplier(s, dir)
    val nat  = Tables.nation(s, dir)
    val reg  = Tables.region(s, dir).where($"r_name" === "ASIA")
    li
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(sup),
        $"l_suppkey" === $"s_suppkey" && $"s_nationkey" === $"c_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(dsumProd($"l_extendedprice", lit(1.0) - $"l_discount").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q68Sql: String =
    s"""SELECT n_name,
       | ${sqlDsumProd("l_extendedprice", "CAST(1.0 AS DOUBLE) - l_discount")} AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |JOIN nation   ON s_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= DATE '1996-01-01'
       |  AND o_orderdate <  DATE '1998-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  // ---- q69: Z-order cell histogram (space-filling-curve layout) ----

  /** Grid resolution for q69: 10 bits per dimension (1024×1024 grid),
    * aggregated to 2¹²-key cells (256 cells). */
  val ZBits = 10
  val ZCellShift = 12

  /** q69: the layout-clustering histogram — Morton-encode each lineitem's
    * (partkey, suppkey) grid position and aggregate per z-cell. This is
    * the statistics pass a Z-ORDER WRITE runs before choosing range
    * boundaries (see `functions/Zorder`; ZorderSpec pins the
    * 2-D-box → few-cells pruning property on a partitioned layout).
    *
    * Scale design: the z key is a static codegen'd shift/mask expression
    * tree (no UDF, no custom Expression — tier-a composition), the
    * aggregation is one shuffle on 256 cells with map-side partials. */
  def q69ZorderCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Zorder
    val z = Zorder.key(pmod($"l_partkey", lit(1024L)),
      pmod($"l_suppkey", lit(1024L)), ZBits)
    Tables.lineitem(s, dir)
      .select((z / lit(1L << ZCellShift)).cast("long").as("z_cell"),
        $"l_quantity")
      .groupBy($"z_cell")
      .agg(count(lit(1)).as("n_rows"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"z_cell")
  }

  val q69Sql: String = {
    val z = graft.functions.Zorder.keySql(
      "l_partkey % 1024", "l_suppkey % 1024", ZBits)
    s"""SELECT ($z) // ${1L << ZCellShift} AS z_cell,
       |  COUNT(*) AS n_rows, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- q62: correlated subqueries (Catalyst decorrelation) ----

  /** q62: orders priced at more than 1.5× their customer's average order,
    * restricted to orders with at least one returned line — a correlated
    * SCALAR subquery (twice) plus a correlated EXISTS, the query shapes
    * Catalyst's RewriteCorrelatedScalarSubquery / RewritePredicateSubquery
    * rewrite into aggregate+join plans (no per-row subquery execution;
    * DecorrelateSpec pins the plan).
    *
    * The 1.5× test is done in exact integer/decimal arithmetic —
    * `2·price·cnt > 3·sum` instead of `price > 1.5·sum/cnt` — so both
    * engines compare identical exact values (DuckDB's AVG over decimals
    * returns double; SUM does not). The same ANSI SQL text runs on Spark
    * (temp views) and DuckDB (the oracle) verbatim. */
  val q62Sql: String =
    """SELECT o.o_orderkey, o.o_custkey
      |FROM orders o
      |WHERE 2 * CAST(o.o_totalprice AS DECIMAL(18,4)) *
      |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) >
      |      3 * (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,4)))
      |           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |ORDER BY o.o_orderkey""".stripMargin

  def q62CorrelatedSubq(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(q62Sql)
  }

  // ---- q163: join-key skew audit (salt-factor recommendation) ----

  /** One table/key audit row: exact key-count distribution statistics
    * from the count-of-counts DOMAIN. Delegates to
    * [[graft.operators.SkewAudit.auditOne]] — ONE implementation serves
    * both this oracle-checked face and the production auto-salt hook
    * (VERDICT r15 item 4). */
  private[graft] def skewAuditOne(s: SparkSession, df: DataFrame,
      table: String, key: String): DataFrame =
    graft.operators.SkewAudit.auditOne(s, df, table, key)

  /** q163: join-key skew audit — the diagnosis that decides whether a
    * shuffle join needs salting (and with what factor) BEFORE the job
    * melts on a hot key. For each (table, key) about to be joined or
    * aggregated on, it reports exact distribution statistics of the
    * per-key row count: total rows, distinct keys, the hottest key's
    * count, exact p50/p99 counts, the skew ratio max_cnt/(rows/keys),
    * and the recommended salt factor ⌈skew⌉ — exactly the fan-out the
    * repo's salted operators (the q09 salted coinstall, the LSH
    * hot-band salting) take as input. The audited keys pin distinct
    * regimes: event_type the low-cardinality one (5 keys — balanced, so
    * skew ≈ 1, but n_keys itself reads off the parallelism ceiling a
    * salt must break); l_orderkey the small-group one (integer
    * quantization makes max/avg ≈ 3 without any hot key). ⌈skew⌉
    * deliberately errs high — a uniform key reads salt 2 from the ceil
    * of 1+ε, which is harmless; an unsalted hot key is not.
    *
    * Arithmetic: all counts exact BIGINTs; the quantiles are exact
    * ranks (min c with cum·100 ≥ pct·n_keys — integer cross-multiplied,
    * no percentile floats); skew is one fixed-order double expression
    * of three exact counts (factors cast to double before the multiply,
    * q159's overflow convention), so ⌈skew⌉ is the identical double in
    * both engines and the salt hash-matches.
    *
    * Scale: per key audited — ONE map-side-combined count aggregation
    * over the table (the same shuffle the production join would do,
    * minus the payload), then everything is domain-sized: count-of-
    * counts, a KB window, a 1-row broadcast. Auditing k keys of one
    * table shares nothing here (two lineitem keys = two scans); a
    * grouping-sets variant would share the scan at the cost of a double
    * shuffle payload — the right trade only when the scan dominates. */
  def q163SkewAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    skewAuditOne(s, Tables.events(s, dir), "events", "event_type")
      .unionByName(skewAuditOne(s, Tables.events(s, dir), "events", "user_id"))
      .unionByName(skewAuditOne(s, Tables.lineitem(s, dir), "lineitem", "l_orderkey"))
      .unionByName(skewAuditOne(s, Tables.lineitem(s, dir), "lineitem", "l_partkey"))
      .orderBy($"table_name", $"key_name")
  }

  private def skewSqlOne(table: String, key: String): String =
    s"""SELECT '$table' AS table_name, '$key' AS key_name,
       |  n_rows, n_keys, max_cnt, p50_cnt, p99_cnt,
       |  CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
       |    / CAST(n_rows AS DOUBLE) AS skew,
       |  GREATEST(1, CAST(ceil(CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
       |    / CAST(n_rows AS DOUBLE)) AS BIGINT)) AS salt
       |FROM (
       |  SELECT MAX(n_keys) AS n_keys, MAX(n_rows) AS n_rows,
       |    MAX(max_cnt) AS max_cnt,
       |    MIN(CASE WHEN cum * 100 >= n_keys * 50 THEN c END) AS p50_cnt,
       |    MIN(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS p99_cnt
       |  FROM (
       |    SELECT c, SUM(nk) OVER (ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS nk FROM
       |      (SELECT $key, CAST(COUNT(*) AS BIGINT) AS c FROM $table GROUP BY 1)
       |      GROUP BY 1))
       |  CROSS JOIN (
       |    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |      CAST(SUM(c) AS BIGINT) AS n_rows, MAX(c) AS max_cnt
       |    FROM (SELECT $key, CAST(COUNT(*) AS BIGINT) AS c FROM $table GROUP BY 1)))""".stripMargin

  val q163Sql: String =
    Seq(("events", "event_type"), ("events", "user_id"),
      ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"))
      .map { case (t, k) => skewSqlOne(t, k) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name, key_name")

  val queries: Map[String, Q] = Map(
    "q163_skew_audit"       -> (q163SkewAudit _),
    "q116_asof_late_audit"  -> (q116AsofLateAudit _),
    "q60_funnel"            -> (q60Funnel _),
    "q67_path_mining"       -> (q67PathMining _),
    "q68_star_join"         -> sortSharedQuery(q68StarJoin _),
    "q69_zorder_cells"      -> sortSharedQuery(q69ZorderCells _),
    "q73_resample_ffill"    -> (q73ResampleFfill _),
    "q74_data_quality"      -> (q74DataQuality _),
    "q75_cohort_retention"  -> (q75CohortRetention _),
    "q76_fuzzy_match"       -> (q76FuzzyMatch _),
    "q62_correlated_subq"   -> (q62CorrelatedSubq _),
    "q52_rollup"            -> (q52Rollup _),
    "q55_cube"              -> (q55Cube _),
    "q53_window_analytics"  -> (q53WindowAnalytics _),
    "q54_unpivot"           -> (q54Unpivot _),
    "q51_apply_changes"     -> (q51ApplyChanges _),
    "q50_latest_per_key"    -> (q50LatestPerKey _),
    "q46_pivot"             -> (q46Pivot _),
    "q47_percentiles"       -> (q47Percentiles _),
    "q48_moment_stats"      -> (q48MomentStats _),
    "q44_asof_join"         -> (q44AsOfJoin _),
    "q45_range_join"        -> (q45RangeJoin _),
    "q17_sessionize"        -> (q17Sessionize _),
    "q18_approx_distinct"   -> (q18ApproxDistinct _),
    "q19_set_ops"           -> (q19SetOps _),
    "q01_pricing_summary"   -> (q01PricingSummary _),
    "q02_event_counts"      -> (q02EventCounts _),
    "q03_distinct_users"    -> (q03DistinctUsers _),
    "q04_filtered_revenue"  -> (q04FilteredRevenue _),
    "q05_semi_join"         -> (q05SemiJoin _),
    "q06_anti_join"         -> (q06AntiJoin _),
    "q07_left_outer_enrich" -> (q07LeftOuterEnrich _),
    "q08_topk_per_group"    -> (q08TopKPerGroup _),
    "q09_pair_cooccurrence" -> (q09PairCooccurrence _),
    "q10_tumbling_window"   -> (q10TumblingWindow _),
    "q58_sliding_window"    -> (q58SlidingWindow _),
    "q112_event_time_skew"  -> (q112EventTimeSkew _),
    "q113_asof_join"        -> (q113AsofJoin _),
    "q114_interval_join"    -> (q114IntervalJoin _),
    "q137_ewma_anomaly"     -> (q137EwmaAnomaly _),
    "q144_transition_matrix" -> (q144TransitionMatrix _),
    "q11_sha2"              -> (q11Sha2 _),
    "q12_json_trycast"      -> (q12JsonTryCast _),
    "q13_url_build_parse"   -> (q13UrlBuildParse _),
    "q14_quality_gate"      -> (q14QualityGate _),
    "q15_hof_exists"        -> sortSharedQuery(q15HofExists _),
    "q16_first_last"        -> (q16FirstLast _),
  )

  val oracleSql: Map[String, String] = Map(
    "q163_skew_audit"       -> q163Sql,
    "q116_asof_late_audit"  -> q116Sql,
    "q60_funnel"            -> q60Sql,
    "q67_path_mining"       -> q67Sql,
    "q68_star_join"         -> q68Sql,
    "q69_zorder_cells"      -> q69Sql,
    "q73_resample_ffill"    -> q73Sql,
    "q74_data_quality"      -> q74Sql,
    "q75_cohort_retention"  -> q75Sql,
    "q76_fuzzy_match"       -> q76Sql,
    "q62_correlated_subq"   -> q62Sql,
    "q52_rollup"            -> q52Sql,
    "q55_cube"              -> q55Sql,
    "q53_window_analytics"  -> q53Sql,
    "q54_unpivot"           -> q54Sql,
    "q51_apply_changes"     -> q51Sql,
    "q17_sessionize"        -> q17Sql,
    "q18_approx_distinct"   -> q18Sql,
    "q19_set_ops"           -> q19Sql,
    "q44_asof_join"         -> q44Sql,
    "q45_range_join"        -> q45Sql,
    "q46_pivot"             -> q46Sql,
    "q50_latest_per_key"    -> q50Sql,
    "q47_percentiles"       -> q47Sql,
    "q48_moment_stats"      -> q48Sql,
    "q01_pricing_summary"   -> q01Sql,
    "q02_event_counts"      -> q02Sql,
    "q03_distinct_users"    -> q03Sql,
    "q04_filtered_revenue"  -> q04Sql,
    "q05_semi_join"         -> q05Sql,
    "q06_anti_join"         -> q06Sql,
    "q07_left_outer_enrich" -> q07Sql,
    "q08_topk_per_group"    -> q08Sql,
    "q09_pair_cooccurrence" -> q09Sql,
    "q10_tumbling_window"   -> q10Sql,
    "q58_sliding_window"    -> q58Sql,
    "q112_event_time_skew"  -> q112Sql,
    "q113_asof_join"        -> q113Sql,
    "q114_interval_join"    -> q114Sql,
    "q137_ewma_anomaly"     -> q137Sql,
    "q144_transition_matrix" -> q144Sql,
    "q11_sha2"              -> q11Sql,
    "q12_json_trycast"      -> q12Sql,
    "q13_url_build_parse"   -> q13Sql,
    "q14_quality_gate"      -> q14Sql,
    "q15_hof_exists"        -> q15Sql,
    "q16_first_last"        -> q16Sql,
  )
}
