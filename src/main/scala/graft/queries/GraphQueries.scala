package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.Materialize.{Rounds, sortSharedQuery}

/** Graph analytics over relational co-occurrence graphs.
  *
  * The graph here is the part co-purchase graph: an undirected edge links
  * two parts that appear in the same order (the classic market-basket
  * projection of the order–part bipartite graph). Connected components
  * live in [[graft.operators.ConnectedComponents]]; this module holds the
  * oracle-checked iterative-numeric side (PageRank).
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Damping factor, standard Brin–Page value. */
  val Damping = "0.85"
  val Teleport = "0.15"

  /** Contribution quantization scale: 1/deg is rounded to DECIMAL(18,12)
    * so the neighbor sum is EXACT decimal addition — order-independent
    * across any partitioning, and identical in DuckDB (both engines
    * quantize the same IEEE double; sums of decimals carry no float
    * rounding at all). */
  private val ContribDec = DecimalType(18, 12)

  /** Orders with more parts than this are EXCLUDED from edge generation —
    * the same guard the coinstall job puts on per-client baskets: a
    * pathological basket of 10⁵ items would otherwise mint 10¹⁰ pairs.
    * Far above any real basket here (max 13 at sf0.1); the exclusion is
    * deterministic and mirrored in the oracle. */
  val MaxBasket = 64

  /** Mirrored (u, v) edge list of the capped co-purchase graph — shared
    * by q66 and q72. One shuffle: collect_set baskets, cap, mint pairs
    * map-side with a bind-bound HOF, distinct, mirror. */
  def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = copurchasePairs(s, dir)
    pairs.union(pairs.select($"v".as("u"), $"u".as("v")))
  }

  /** Per-(session, sf-dir) memo of the materialized weighted edge list
    * ([[graft.operators.FrameMemo]] — the shared-frame pattern this
    * family introduced in round 12, now also read-through over the
    * [[graft.jobs.GraphIngest]] bucketed edge table when one exists).
    * The frame is DERIVED and deterministic — any process rebuilds it on
    * first access, so the per-query self-containment contract holds —
    * but within a process the EIGHT graph-family queries
    * (q66/q72/q77/q79/q82/q140/q141/q143) share ONE basket→pair
    * materialization instead of re-paying it each (~1.5–2 s per query
    * at sf0.1, the round-11 verdict's main bench lever). */
  private val edgeMemo = new graft.operators.FrameMemo[DataFrame](
    "copurchase-edges", graft.operators.FrameMemo.frameLive)

  /** The pre-checkpoint source of the weighted edge frame: the
    * [[graft.jobs.GraphIngest]] bucketed table when this session's
    * catalog has it (persisted state — no lineitem scan, no basket
    * re-materialization), else the basket→pair compute. The Boolean
    * reports which path was taken (PlanSpec pins the warm path). */
  private[graft] def weightedEdgesSource(s: SparkSession, dir: String): (DataFrame, Boolean) = {
    import s.implicits._
    val t = graft.jobs.GraphIngest.edgesTable(dir)
    // table path aggregates Σw per pair: advanceState appends DELTA rows,
    // so a pair may span several physical rows; the agg rides the u
    // buckets exchange-free (HashPartitioning(u) clusters (u, v)) and is
    // the identity on a never-advanced table. Σw <= 0 pairs are edges
    // fully retracted by GraphIngest.retractBatch's negative-w deltas —
    // they must vanish from every consumer's view (the filter is the
    // identity on a never-retracted table, where all weights are counts)
    if (s.catalog.tableExists(t))
      (s.table(t).groupBy($"u", $"v").agg(sum($"w").as("w"))
        .where($"w" > 0), true)
    else (copurchasePairOcc(s, dir)
      .groupBy($"u", $"v").agg(count(lit(1)).as("w"))
      .select(explode(array(struct($"u", $"v", $"w"),
        struct($"v".as("u"), $"u".as("v"), $"w"))).as("e"))
      .select($"e.u", $"e.v", $"e.w"), false)
  }

  /** Mirrored WEIGHTED edge list (u, v, w = shared-basket count) of the
    * capped co-purchase graph, materialized once hash-partitioned on `u`
    * and memoized per (session, dir) — the SUPERSET frame for the whole
    * graph family: the unweighted edge list and the distinct pair set
    * are projections/filters of it (Project and Filter both pass the
    * LogicalRDD's HashPartitioning(u) through to downstream planning),
    * so every family member rides the same single shuffle.
    *
    * Single-pass materialization: per-basket pair occurrences aggregate
    * to weighted distinct pairs, and the mirror is an explode of each
    * u<v pair into both orientations — map-side row doubling in the same
    * stage, then one keyed repartition + eager checkpoint so the
    * resulting LogicalRDD carries HashPartitioning(u). When the
    * GraphIngest table exists the same repartition+checkpoint runs over
    * the bucketed scan instead — one bucket-file read, zero basket
    * work. */
  /** Data-proportional partition count for the graph family's
    * checkpointed frames (guide §2 "make partitioning scale-adaptive"):
    * derived from the INPUT bytes (lineitem, the table every co-purchase
    * frame is a bounded derivation of), NOT from the core count. The
    * companion session otherwise plans every checkpointed loop frame at
    * `spark.sql.shuffle.partitions` = cores partitions, so each of the
    * dozens of node-sized loop stages schedules one tiny task per core
    * per round — a fixed cost that grows with the cluster while the
    * work per task shrinks (the r18 driver's paired runs: the loop
    * families 1.7–4× faster at 8 cores than at 32 on identical code;
    * 0.3–0.8 s executorRunTime per tiny task, GC-free — OPTIMIZATION_r19.md).
    * One partition per `spark.graft.graphPartBytes` of input (default
    * 1.5 MB — the measured optimum of a 2/7/14/32-partition sweep at
    * sf0.1×32 cores: 36.2/26.8/29.1/41.4 s family totals; the constant
    * is a conf so a cluster deployment can re-derive it per §1
    * measurement) keeps local/small-SF frames at a handful of fat tasks
    * while inputs grow their width linearly; the 1M cap bounds the
    * M×R shuffle-block explosion (§2.2), past which partitions grow
    * toward the 100 MB–1 GB §2.2 recommendation instead (at 100 TB of
    * input the cap yields ~100 MB per partition). Every frame of the
    * family uses the SAME number so the exchange-free loop joins stay
    * co-partitioned. */
  private[graft] def graphParts(s: SparkSession, dir: String): Int = {
    val per = s.conf.getOption("spark.graft.graphPartBytes")
      .flatMap(_.toLongOption).getOrElse(3L << 19)
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case _: Throwable => 0L }
    math.max(1, math.min(1 << 20, (bytes / per).toInt))
  }

  def weightedEdgesPartitioned(s: SparkSession, dir: String): DataFrame =
    edgeMemo.getOrBuild(s, dir) {
      import s.implicits._
      graft.operators.Materialize.checkpointPartitioned(
        weightedEdgesSource(s, dir)._1.repartition($"u"),
        parts = Some(graphParts(s, dir)))
    }

  /** Per-(session, dir) memo of yesterday's per-round LPA label history
    * over the OLD graph — q146's REQUIRED persisted state (node-sized ×
    * [[LpaRounds]] frames), read-through over the
    * [[graft.jobs.GraphIngest]] bucketed history table when one exists
    * (the "written at ingest like jobs/CodesIngest" contract, closed in
    * round 13). Same contract as [[edgeMemo]]: derived and
    * deterministic, rebuilt on first access by any process, liveness-
    * revalidated so an external unpersist triggers a rebuild instead of
    * a dead-lineage failure. Within a process the incremental query
    * pays only the churn-proportional delta rounds — the entire point
    * of the operator — instead of re-deriving yesterday's run per
    * invocation. */
  private val histMemo = new graft.operators.FrameMemo[Vector[DataFrame]](
    "lpa-history", graft.operators.FrameMemo.framesLive(_, _))

  private def lpaHistoryMemo(s: SparkSession, dir: String,
      oldE: DataFrame): Vector[DataFrame] = histMemo.getOrBuild(s, dir) {
    val t = graft.jobs.GraphIngest.histTable(dir)
    if (s.catalog.tableExists(t)) graft.jobs.GraphIngest.readHistory(s, t)
    else lpaHistory(oldE)
  }

  /** The q146 persisted state for [[graft.jobs.GraphIngest]]'s writer:
    * yesterday's per-round label history over the old graph (today's
    * batch edges excluded by the [[ChurnMod]] churn predicate). */
  private[graft] def lpaHistoryForIngest(s: SparkSession, dir: String): Vector[DataFrame] = {
    import s.implicits._
    val full = weightedEdgesPartitioned(s, dir)
    lpaHistoryMemo(s, dir, full.where(($"u" + $"v") % ChurnMod =!= 0).select($"u", $"v"))
  }

  /** Test hook: drop this session's memo entries, forcing the rebuild
    * path a fresh process would take (GraphIngestSpec uses it to pin
    * the warm table-read path). */
  private[graft] def clearMemos(s: SparkSession): Unit = {
    edgeMemo.clear(s); histMemo.clear(s)
  }

  /** Yesterday's run WITH per-round history: [[LpaRounds]] label frames
    * over the old-graph edges (round 1..N), each checkpointed. */
  private[graft] def lpaHistory(oldE: DataFrame): Vector[DataFrame] = {
    val rounds = new Rounds()
    (1 to LpaRounds).scanLeft(rounds(lpaInit(oldE)))((lab, _) =>
      rounds(lpaRound(oldE, lab))).tail.toVector
  }

  /** RDD ids of this session's LIVE memoized shared frames. A benchmark
    * harness that deterministically unpersists per-query state between
    * runs must SPARE these ids: the edge frame (and q146's label
    * history) is the in-app analogue of a bucketed derived table —
    * shared/persisted by design, bounded (one frame set per data dir),
    * and its retention only removes work. */
  def sharedRddIds(s: SparkSession): Set[Int] = {
    // LIVE ids only, as documented: a memo entry whose blocks were
    // externally unpersisted is dead lineage awaiting rebuild — its id
    // must not be reported as shared state (FrameMemo.liveValues already
    // filters on liveness)
    val edges = edgeMemo.liveValues(s)
      .flatMap(graft.operators.FrameMemo.rddIdOf(_)).toSet
    val hists = histMemo.liveValues(s).flatten
      .flatMap(graft.operators.FrameMemo.rddIdOf(_)).toSet
    edges ++ hists
  }

  /** Mirrored edge list hash-partitioned on `u` — the canonical layout
    * for every iterative graph/ML loop: the edge side of each
    * iteration's join is already distributed on the join key, so
    * EnsureRequirements plants exchanges only under the node-sized
    * rank/contrib vectors and the edges are NEVER re-shuffled. A
    * weight-dropping projection of the shared memoized frame
    * ([[weightedEdgesPartitioned]]); the projection preserves the
    * HashPartitioning(u) layout. */
  def copurchaseEdgesPartitioned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    weightedEdgesPartitioned(s, dir).select($"u", $"v")
  }

  /** Per-basket u<v pair OCCURRENCES (one row per co-containing order) —
    * the shared pre-aggregation of [[copurchasePairs]] (distinct) and
    * the q143 weighted edges (count = co-occurrence strength). */
  private def copurchasePairOcc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baskets = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(array_sort(collect_set($"l_partkey")).as("ps"))
      .where(size($"ps") <= MaxBasket && size($"ps") >= 2)
    // pairs minted map-side: for i < j emit (ps[i], ps[j]); the basket is
    // bind-bound so the interpreted HOF walks one materialized array
    val pairExpr = graft.functions.Cols.bind($"ps") { ps =>
      flatten(transform(sequence(lit(1), size(ps) - 1), i =>
        transform(sequence(lit(0), i - 1), j =>
          struct(element_at(ps, j + 1).as("u"), element_at(ps, i + 1).as("v")))))
    }
    baskets
      .select(explode(pairExpr).as("p"))
      .select($"p.u", $"p.v")
  }

  /** The distinct u<v pair set (half the edge list) — the u<v slice of
    * the shared memoized weighted frame (same distinct set; the Filter +
    * Project preserve HashPartitioning(u)). */
  def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    weightedEdgesPartitioned(s, dir).where($"u" < $"v").select($"u", $"v")
  }

  /** q66: one PageRank iteration from the uniform start (r₀ = 1) over the
    * part co-purchase graph: r₁(v) = 0.15 + 0.85 · Σ_{u∈N(v)} 1/deg(u).
    *
    * Scale design: the edges come pre-partitioned on `u` from
    * [[copurchaseEdgesPartitioned]], so the degree aggregation is
    * shuffle-free, the edges⋈contrib join plants no exchange on either
    * side (contrib inherits the same partitioning through deg), and the
    * only shuffle after edge materialization is the node-sized
    * neighbor-sum aggregation on `v`. The arithmetic is exact decimal so
    * the result is bit-stable at any cluster size. The oracle builds the
    * same capped graph by unoptimized self-join — proving the map-side
    * HOF pairing drops nothing. */
  def q66PagerankStep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdgesPartitioned(s, dir)
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("deg"))
    val contrib = deg.select($"u",
      (lit(1.0) / $"deg").cast(ContribDec).as("c"))
    edges
      .join(contrib.hint("shuffle_hash"), Seq("u"))
      .groupBy($"v".as("part"))
      .agg(sum($"c").as("nbr_sum"))
      .select(col("part").as("l_partkey"),
        (expr(s"CAST($Teleport AS DECIMAL(18,12))") +
          expr(s"CAST($Damping AS DECIMAL(3,2))") * col("nbr_sum"))
          .cast("double").as("rank"))
      .orderBy($"l_partkey")
  }

  /** The decimal→double cast routes through VARCHAR on the DuckDB side:
    * DuckDB's direct decimal→double cast is not correctly rounded (1 ulp
    * off at ~15 significant digits), while strtod — like Spark's
    * BigDecimal.doubleValue — is. */
  val q66Sql: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |elig AS (SELECT l_orderkey FROM li GROUP BY 1
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxBasket),
       |lie AS (SELECT li.l_orderkey, li.l_partkey FROM li JOIN elig USING (l_orderkey)),
       |pairs AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lie a JOIN lie b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
       |contrib AS (SELECT u, CAST(1.0e0 / deg AS DECIMAL(18,12)) AS c FROM deg)
       |SELECT e.v AS l_partkey,
       |  CAST(CAST(CAST('$Teleport' AS DECIMAL(18,12)) +
       |            CAST('$Damping' AS DECIMAL(3,2)) * SUM(c.c)
       |       AS VARCHAR) AS DOUBLE) AS rank
       |FROM edges e JOIN contrib c ON c.u = e.u
       |GROUP BY e.v
       |ORDER BY l_partkey""".stripMargin

  /** Iterations for q72. */
  val PrIters = 3

  /** q72: PageRank run for [[PrIters]] iterations — the iterative-numeric
    * workload shape (loop of join+aggregate with per-round lineage
    * truncation, the ConnectedComponents pattern).
    *
    * Determinism across engines AND iterations: ranks live as doubles
    * (fixed-order `0.15 + 0.85·x` IEEE arithmetic, identical on both
    * engines), while the order-sensitive part — the neighbor SUM — runs
    * over contributions quantized to INTEGER PICOUNITS with an explicit
    * `floor(x·1e12 + 0.5)` (every step a correctly-rounded IEEE op, so
    * both engines produce the same integer; a double→DECIMAL cast here
    * would hand tie-breaking to engine-specific rounding, which diverged
    * by 1 ulp at sf0.01). Integer sums are exact and order-independent;
    * the final BIGINT→double cast and /1e12 are correctly rounded in
    * both engines. The oracle is the same recurrence UNROLLED into
    * chained CTEs.
    *
    * Scale design: the mirrored edge list is materialized ONCE
    * partitioned on `u` ([[copurchaseEdgesPartitioned]]) and reused every
    * round, so an iteration shuffles only the node-sized neighbor-sum —
    * the edges never move again (round 3 re-shuffled them per iteration;
    * at 100 TB the edge shuffle dominates every loop that carries it).
    * Ranks are checkpointed per round so the plan stays O(1) deep
    * regardless of iteration count. */
  def q72PagerankIters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdgesPartitioned(s, dir)
    // partitioned rounds at the family width: each rank frame keeps
    // HashPartitioning(u) (the neighbor-sum agg partitions on v; the
    // rename-project carries it through), so iteration N+1's ranks⋈deg
    // join is exchange-free — a bare localCheckpoint under AQE captured
    // UnknownPartitioning and re-planted a node-sized exchange per round.
    // deg inherits HashPartitioning(u) from the edges (its agg is
    // shuffle-free), so the contrib join is exchange-free on its side too.
    val rounds = new Rounds(Some(graphParts(s, dir)))
    val deg = rounds(edges.groupBy($"u").agg(count(lit(1)).as("deg")), eager = true)
    var ranks = deg.select($"u", lit(1.0).as("r"))
    for (_ <- 1 to PrIters)
      ranks = rounds(prIteration(edges, deg, ranks))
    ranks.select($"u".as("l_partkey"), $"r".as("rank")).orderBy($"l_partkey")
  }

  /** One PageRank round: r'(v) = 0.15 + 0.85 · Σ_{u∈N(v)} r(u)/deg(u),
    * contributions quantized to integer picounits (see [[q72PagerankIters]]).
    *
    * shuffle_hash: both join inputs are already HashPartitioning(u), so
    * neither join plants an exchange — but SMJ would re-SORT the edge
    * side every iteration (measured 2× the iteration cost). Hash-building
    * the node-sized contrib shard per partition and STREAMING the edges
    * is the shape that survives 100 TB: per-partition build =
    * nodes/numPartitions, the same memory bound any hash agg over the
    * rank vector already needs. Package-visible so PlanSpec can assert
    * the REAL chained iteration plan carries exactly one exchange. */
  private[graft] def prIteration(edges: DataFrame, deg: DataFrame,
      ranks: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val contrib = ranks.join(deg, Seq("u"))
      .select($"u", floor(($"r" / $"deg") * lit(1.0e12) + lit(0.5)).as("c"))
    edges.join(contrib.hint("shuffle_hash"), Seq("u"))
      .groupBy($"v")
      .agg(sum($"c").as("ns"))
      .select($"v".as("u"),
        (lit(0.15) + lit(0.85) * ($"ns".cast("double") / lit(1.0e12))).as("r"))
  }

  val q72Sql: String = {
    val graph =
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |elig AS (SELECT l_orderkey FROM li GROUP BY 1
         |         HAVING COUNT(*) BETWEEN 2 AND $MaxBasket),
         |lie AS (SELECT li.l_orderkey, li.l_partkey FROM li JOIN elig USING (l_orderkey)),
         |pairs AS (
         |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         |  FROM lie a JOIN lie b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
         |deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
         |r0 AS (SELECT u, 1.0e0 AS r FROM deg)""".stripMargin
    val iters = (0 until PrIters).map { i =>
      s"""c$i AS (
         |  SELECT r$i.u,
         |    CAST(FLOOR((r$i.r / deg.deg) * 1.0e12 + 0.5e0) AS BIGINT) AS c
         |  FROM r$i JOIN deg USING (u)),
         |r${i + 1} AS (
         |  SELECT e.v AS u,
         |    0.15e0 + 0.85e0 *
         |      (CAST(CAST(SUM(c.c) AS BIGINT) AS DOUBLE) / 1.0e12) AS r
         |  FROM edges e JOIN c$i c ON c.u = e.u GROUP BY e.v)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$graph$iters
       |SELECT u AS l_partkey, r AS rank FROM r$PrIters ORDER BY l_partkey""".stripMargin
  }

  /** Shared oracle CTE prefix: the capped co-purchase graph (distinct
    * pairs, mirrored edges, degrees) — the SQL mirror of
    * [[copurchasePairs]]/[[copurchaseEdges]]. `mat = true` marks every
    * CTE MATERIALIZED: DuckDB inlines CTEs by default, so an oracle
    * that references `edges` once per unrolled round (q145's 10) would
    * otherwise re-evaluate the whole graph build per reference. */
  private def graphSql(mat: Boolean): String = {
    val m = if (mat) "MATERIALIZED " else ""
    s"""WITH li AS $m(SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |elig AS $m(SELECT l_orderkey FROM li GROUP BY 1
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxBasket),
       |lie AS $m(SELECT li.l_orderkey, li.l_partkey FROM li JOIN elig USING (l_orderkey)),
       |pairs AS $m(
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lie a JOIN lie b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS $m(SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
       |deg AS $m(SELECT u AS node, COUNT(*) AS d FROM edges GROUP BY u)""".stripMargin
  }

  private val GraphSql: String = graphSql(mat = false)

  // ---- q77: triangle counting (degree-ordered orientation) ----

  /** q77: triangle count over the co-purchase graph — the graph-quality
    * metric (clustering/community structure) and THE canonical skew
    * showcase: a naive wedge join on raw adjacency mints deg(v)² wedge
    * candidates at every hub, while orienting each edge from its
    * lower-(degree, id) endpoint to the higher bounds every out-
    * neighborhood by O(√m) (Latapy / Chiba–Nishizeki degree-ordering),
    * so wedge work is Σ outdeg(v)² ≤ m^1.5 REGARDLESS of hub size — the
    * difference between a 100 TB run finishing and one reducer holding a
    * celebrity node's square.
    *
    * The counting itself is the compact-forward adjacency-intersection
    * form, which never materializes the wedge stream as rows: oriented
    * out-neighborhoods are packed into sorted arrays once (`adj`), each
    * oriented edge (u,v) pulls A_u and A_v by two equi-joins, and
    * `|A_u ∩ A_v|` counts the triangles whose lowest-degree vertex is u.
    * The shuffled byte volume is the same Σ outdeg² bound as the wedge
    * join (each edge row carries its endpoint adjacency arrays), but as
    * ~m array-carrying rows instead of Σ outdeg² wedge rows — round 5's
    * wedge-join form shuffled 41 M wedge rows at sf0.1 (5.6 s) where
    * this computes identical counts in ~2.4 s. `n_wedges` falls out of
    * the adjacency sizes as Σ C(outdeg,2) — no wedge join at all, and
    * nothing executes twice.
    *
    * Per-row payload is bounded by the orientation: outdeg ≤ O(√m), so a
    * hub's array is √m entries — the Latapy bound keeps the biggest
    * shuffle record proportional to √m even at 100 TB. */
  def q77Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pairs are a filter-projection of the memoized edge RDD — already
    // materialized, so multiple consumers re-read blocks, not lineage
    val pairs = copurchasePairs(s, dir)
    val deg = pairs.select($"u".as("n")).union(pairs.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    // orient: src = lower (degree, id) endpoint; partitioned on src so
    // the adjacency build and the A_u join below are exchange-free
    val o = graft.operators.Materialize.checkpointPartitioned(pairs
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("src"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("dst"))
      .repartition($"src"), parts = Some(graphParts(s, dir)))
    val adj = o.groupBy($"src")
      .agg(array_sort(collect_list($"dst")).as("nbrs"))
      .localCheckpoint()
    val wedges = adj.agg(coalesce(
      sum(expr("cast(size(nbrs) as bigint) * (size(nbrs) - 1) div 2")),
      lit(0L)).as("n_wedges"))
    // vec_icount (round-19): |A_u ∩ A_v| as a two-pointer count over the
    // sorted distinct adjacency arrays — size(array_intersect(...))
    // built a hash set AND allocated the intersection array per oriented
    // edge only to take its length; the codegen count is
    // O(|au|+|av|) with zero allocation, same value (array_intersect
    // dedups; adjacency arrays are distinct by construction)
    val tris = o
      .join(adj.select($"src", $"nbrs".as("au")), Seq("src"))
      .join(adj.select($"src".as("dst"), $"nbrs".as("av")), Seq("dst"))
      .agg(coalesce(sum(graft.functions.Vec.icountCol($"au", $"av")),
        lit(0L)).as("n_triangles"))
    // one audit row assembled IN the plan (1-row aggregates cross-joined)
    // — no driver-side action
    pairs.agg(count(lit(1)).as("n_edges")).crossJoin(wedges).crossJoin(tris)
  }

  val q77Sql: String =
    s"""$GraphSql,
       |o AS (
       |  SELECT CASE WHEN (da.d < db.d OR (da.d = db.d AND p.u < p.v)) THEN p.u ELSE p.v END AS src,
       |         CASE WHEN (da.d < db.d OR (da.d = db.d AND p.u < p.v)) THEN p.v ELSE p.u END AS dst,
       |         CASE WHEN (da.d < db.d OR (da.d = db.d AND p.u < p.v)) THEN db.d ELSE da.d END AS ddeg
       |  FROM pairs p JOIN deg da ON da.node = p.u JOIN deg db ON db.node = p.v),
       |w AS (
       |  SELECT o1.dst AS w1, o2.dst AS w2
       |  FROM o o1 JOIN o o2 ON o1.src = o2.src
       |   AND (o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst)))
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_wedges,
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM w JOIN o ON o.src = w.w1 AND o.dst = w.w2) AS n_triangles""".stripMargin

  // ---- q79: BFS k-hop reachability ----

  /** Hop budget and seed predicate for q79. */
  val BfsHops = 3
  val BfsSeedMax = 10

  /** q79: multi-source BFS — minimum hop count from a seed set over the
    * co-purchase graph, [[BfsHops]] rounds (impact analysis / graph
    * neighborhood expansion; with per-round lineage truncation this is
    * the ConnectedComponents loop shape applied to distances).
    *
    * Scale design: the edge list is materialized ONCE partitioned on `u`
    * ([[copurchaseEdgesPartitioned]]) so each round shuffles only the
    * frontier (which the anti-join keeps to NEWLY reached nodes — the
    * delta, not the closure; the classic BFS-on-MapReduce optimization).
    * Frontier and visited sets are node-sized. The hop count is fixed
    * (no per-round stop decision), so the whole loop is ONE action: each
    * round's frontier/levels blocks cache at first compute and their
    * double consumers read the cache. */
  def q79BfsHops(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdgesPartitioned(s, dir)
    val seeds = edges.select($"u").where($"u" < BfsSeedMax).distinct()
      .withColumn("hop", lit(0L))
    val rounds = new Rounds()
    var levels = rounds(seeds)
    var frontier = levels
    for (h <- 1 to BfsHops) {
      frontier = rounds(edges.join(frontier.select($"u"), Seq("u"))
        .select($"v".as("u")).distinct()
        .join(levels.select($"u"), Seq("u"), "left_anti")
        .withColumn("hop", lit(h.toLong)))
      levels = rounds(levels.union(frontier))
    }
    levels.select($"u".as("l_partkey"), $"hop").orderBy($"l_partkey")
  }

  val q79Sql: String = {
    val rounds = (1 to BfsHops).map { h =>
      val prev = (0 until h).map(i => s"SELECT u FROM h$i").mkString(" UNION ALL ")
      s"""h$h AS (
         |  SELECT DISTINCT e.v AS u FROM edges e JOIN h${h - 1} f ON e.u = f.u
         |  WHERE e.v NOT IN ($prev))""".stripMargin
    }.mkString(",\n", ",\n", "")
    val hops = (0 to BfsHops).map(h => s"SELECT u, CAST($h AS BIGINT) AS hop FROM h$h")
      .mkString(" UNION ALL ")
    s"""$GraphSql,
       |h0 AS (SELECT DISTINCT u FROM edges WHERE u < $BfsSeedMax)$rounds
       |SELECT u AS l_partkey, hop FROM ($hops) ORDER BY l_partkey""".stripMargin
  }

  // ---- q82: PageRank to convergence (L∞ stopping rule) ----

  /** Convergence tolerance for q82 (L∞ on the rank vector). */
  val PrEps = 1e-4

  /** Iteration cap — a convergence loop on a production cluster always
    * carries one (a disconnected pathological graph must not spin). */
  val PrMaxIters = 20

  /** Convergence is tested every this-many iterations — the batched stop
    * check every production convergence loop uses: each test is a driver
    * sync (the stop decision gates job submission) plus a full replan,
    * so testing every round doubles the loop's fixed costs to save at
    * most CheckEvery−1 cheap extra iterations. */
  val PrCheckEvery = 2

  /** Iterations the loop actually takes at sf0.01 with [[PrEps]] and
    * [[PrCheckEvery]] — measured (adjacent-delta trajectory: 0.686,
    * 0.046, 4.4e-3, 7.6e-4, 8.7e-5, 1.6e-5; checks fire at rounds 2, 4,
    * 6 and the round-6 delta is the first checked one below 1e-4; both
    * decisive margins are >6×). The oracle unrolls to exactly this
    * count; a data change that shifts convergence surfaces as an
    * `n_iters` hash mismatch, not a silent pass. */
  val PrConvergedIters = 6

  /** q82: PageRank iterated UNTIL the L∞ rank delta drops below
    * [[PrEps]] — the production form of q72's fixed-iteration loop and
    * the completion of the iterative-numeric story: the stopping rule is
    * part of the operator.
    *
    * Scale design is q72's (edges materialized once partitioned on `u`,
    * partitioned rounds keep every iteration at one node-sized
    * exchange). The ONLY addition is the convergence test, batched every
    * [[PrCheckEvery]] rounds: the per-node adjacent delta of the
    * segment's final two vectors rides the segment frame through an
    * exchange-free join (everything is HashPartitioning(u)), and the
    * 1-row max the driver syncs on is itself the action that
    * materializes the segment's frames (one driver round-trip per
    * segment, not two).
    * A convergence loop cannot avoid that driver round-trip — the stop
    * decision gates job submission — but it CAN amortize it: each test
    * costs a full replan + driver sync, so testing every round doubles
    * the loop's fixed costs to save at most CheckEvery−1 cheap extra
    * iterations past the fixed point.
    *
    * Cross-engine determinism of the STOP DECISION itself: ranks are
    * bit-identical doubles on both engines (q72's integer-picounit
    * argument), |r'−r| and max are exact IEEE ops, so the measured
    * delta — and therefore the iteration count — is reproducible
    * exactly. The oracle re-derives the final two CHECKED deltas and
    * asserts the stopping semantics: d_N < ε ≤ d_{N−CheckEvery}. */
  def q82PagerankConverge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdgesPartitioned(s, dir)
    val rounds = new Rounds(Some(graphParts(s, dir)))
    val deg = rounds(edges.groupBy($"u").agg(count(lit(1)).as("deg")), eager = true)
    var ranks = deg.select($"u", lit(1.0).as("r"))
    var iters = 0
    var delta = Double.MaxValue
    while (iters < PrMaxIters && delta >= PrEps) {
      // a segment of CheckEvery iterations planned as one unit; only the
      // second-to-last frame is double-consumed (by the last iteration
      // and the delta join), and its checkpoint makes both readers share
      // one computation
      var cur = ranks
      for (_ <- 1 until PrCheckEvery)
        cur = rounds(prIteration(edges, deg, cur))
      // the delta agg below reads this frame as it stores, and `ranks`
      // re-reads the blocks
      val next = rounds(prIteration(edges, deg, cur).as("n")
        .join(cur.select($"u", $"r".as("r_prev")), "u")
        .select($"u", $"r", abs($"r" - $"r_prev").as("dr")))
      // AQE-planned (round-19 revert of the round-18 AQE-off sync planning —
      // same rationale as bpeTrain's top-pair collect: the static plan's
      // per-sync cost scales with the core count; the driver's paired
      // runs had q82 at 0.44 scaling ratio, i.e. 2.3× slower at 32 cores
      // than at 8, where the r17 AQE-planned sync scaled fine)
      delta = next.agg(max($"dr")).head.getDouble(0)
      ranks = next.select($"u", $"r")
      rounds.settle(deg, ranks)
      iters += PrCheckEvery
    }
    rounds.settle(ranks)
    ranks.select($"u".as("l_partkey"), $"r".as("rank"),
        lit(iters.toLong).as("n_iters"),
        lit(delta < PrEps).as("converged"),
        lit(delta).as("linf_delta"))
      .orderBy($"l_partkey")
  }

  val q82Sql: String = {
    val n = PrConvergedIters
    val iters = (0 until n).map { i =>
      s"""c$i AS (
         |  SELECT r$i.u,
         |    CAST(FLOOR((r$i.r / d.d) * 1.0e12 + 0.5e0) AS BIGINT) AS c
         |  FROM r$i JOIN deg d ON d.node = r$i.u),
         |r${i + 1} AS (
         |  SELECT e.v AS u,
         |    0.15e0 + 0.85e0 *
         |      (CAST(CAST(SUM(c.c) AS BIGINT) AS DOUBLE) / 1.0e12) AS r
         |  FROM edges e JOIN c$i c ON c.u = e.u GROUP BY e.v)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$GraphSql,
       |r0 AS (SELECT node AS u, 1.0e0 AS r FROM deg)$iters,
       |dlast AS (SELECT MAX(ABS(a.r - b.r)) AS d
       |          FROM r$n a JOIN r${n - 1} b ON a.u = b.u),
       |dprev AS (SELECT MAX(ABS(a.r - b.r)) AS d
       |          FROM r${n - PrCheckEvery} a JOIN r${n - PrCheckEvery - 1} b ON a.u = b.u)
       |SELECT r$n.u AS l_partkey, r$n.r AS rank,
       |  CAST($n AS BIGINT) AS n_iters,
       |  ((SELECT d FROM dlast) < $PrEps AND (SELECT d FROM dprev) >= $PrEps) AS converged,
       |  (SELECT d FROM dlast) AS linf_delta
       |FROM r$n ORDER BY l_partkey""".stripMargin
  }

  // ---- q140: label-propagation communities (fixed synchronous rounds) ----

  /** Synchronous LPA round count. Fixed and unrolled in the oracle:
    * sync LPA can oscillate on bipartite-ish structure, so "run to
    * convergence" is ill-defined — production implementations cap
    * rounds; 3 is enough for the co-purchase graph's label mass to
    * coalesce (the 1-round and 3-round partitions differ, spec). */
  val LpaRounds = 3

  /** q140: community detection by label propagation (Raghavan et al.
    * 2007) over the co-purchase graph — the clustering dual of the
    * PageRank family: each node starts as its own label and each
    * synchronous round adopts the most frequent label among neighbors
    * (own label counts once; ties break to the SMALLEST label, making
    * every round deterministic — no random visit order).
    *
    * Scale design is q72's: edges are materialized ONCE partitioned on
    * `u` and never move; each round shuffles only the node-sized label
    * vector (join edges⋈labels on u, count votes at v, argmax via a
    * single max(struct(cnt, −lab)) — no per-group sort). 3 rounds = 3
    * node-sized exchanges. Oracle unrolls the same rounds with
    * struct-MIN argmax over the shared edge CTEs. */
  def q140LpaCommunities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdgesPartitioned(s, dir)
    lpaCore(edges, LpaRounds)
  }

  /** One synchronous LPA round: every node adopts the most frequent
    * label among its neighbors plus itself (self-vote weight 1), ties to
    * the SMALLEST label — deterministic argmax via max(struct(cnt, −lab)),
    * no per-group sort. The edge side stays stationary on `u`
    * (shuffle_hash against the node-sized label vector); the vote
    * aggregation is the round's one node-sized exchange. */
  private[graft] def lpaRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges
      .join(labels.withColumnRenamed("v", "u").hint("shuffle_hash"), Seq("u"))
      .select($"v", $"lab")
      .unionByName(labels) // self-vote, weight 1
      .groupBy($"v", $"lab").agg(count(lit(1)).as("cnt"))
      .groupBy($"v")
      .agg(max(struct($"cnt", (-$"lab").as("nl"))).as("m"))
      .select($"v", (-$"m.nl").as("lab"))
  }

  /** Initial LPA labels: every node its own label. */
  private[graft] def lpaInit(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select($"u".as("v")).distinct()
      .select($"v", $"v".as("lab"))
  }

  /** q140 core over any mirrored (u, v) edge frame — spec entry.
    *
    * Round-18 measured negative result, recorded so it is not re-tried:
    * switching these frames to the q72/q82 partitioned rounds
    * (`Rounds(Some(n))`, to keep HashPartitioning(v) and drop the
    * label-side exchange of each round's join) made the family 10–30%
    * SLOWER in a same-session A/B at sf0.1 (q140 3.74→4.50,
    * q146 7.43→9.70): each round's plan is then fixed at the static
    * shuffle-partition count, losing AQE's small-shuffle coalescing,
    * which at node-sized rounds is worth more than the exchange it
    * saves. The label frames stay AQE-planned. */
  private[graft] def lpaCore(edges: DataFrame, rounds: Int): DataFrame = {
    import edges.sparkSession.implicits._
    labeledCore(edges, rounds)
      .select($"v".as("l_partkey"), $"lab".as("community"))
      .orderBy($"l_partkey")
  }

  /** [[lpaCore]] without the q140 output sort: the (v, lab) label frame
    * itself, for consumers that keep computing on it (q141). */
  private[graft] def labeledCore(edges: DataFrame, n: Int): DataFrame = {
    val rounds = new Rounds()
    (1 to n).foldLeft(rounds(lpaInit(edges)))((labels, _) =>
      rounds(lpaRound(edges, labels)))
  }

  /** The n1/l1..nN/lN synchronous-round CTEs over an edge CTE named
    * `edges` (shared by q140, q141, q145 and q146's oracles). `mat` as
    * in [[graphSql]] — q145 references each label frame up to three
    * times (next round, d1, d2), so inlined CTEs would grow
    * exponentially. `pfx` prefixes every CTE name (and the l0 seed
    * reference) so one oracle can unroll two independent runs (q146's
    * old-graph and full-graph chains). */
  private def lpaRoundsSql(n: Int, edges: String, mat: Boolean = false,
      pfx: String = ""): String = {
    val m = if (mat) "MATERIALIZED " else ""
    (1 to n).map { k =>
      s"""${pfx}n$k AS $m(
         |  SELECT v, lab, COUNT(*) AS cnt FROM (
         |    SELECT e.v, l.lab FROM $edges e JOIN ${pfx}l${k - 1} l ON l.v = e.u
         |    UNION ALL SELECT v, lab FROM ${pfx}l${k - 1})
         |  GROUP BY 1, 2),
         |${pfx}l$k AS $m(
         |  SELECT v, ms.lab AS lab FROM (
         |    SELECT v, MIN({'nc': -cnt, 'lab': lab}) AS ms FROM ${pfx}n$k GROUP BY v))""".stripMargin
    }.mkString(",\n", ",\n", "")
  }

  val q140Sql: String =
    s"""$GraphSql,
       |l0 AS (SELECT DISTINCT u AS v, u AS lab FROM edges)${lpaRoundsSql(LpaRounds, "edges")}
       |SELECT v AS l_partkey, lab AS community FROM l$LpaRounds
       |ORDER BY l_partkey""".stripMargin

  // ---- q145: label propagation to convergence (delta stop + oscillation guard) ----

  /** Round cap for convergence-driven LPA — like [[PrMaxIters]], a
    * production convergence loop always carries one. */
  val LpaMaxRounds = 10

  /** Rounds between convergence checks (q82's batched-stop rationale:
    * each check is a driver sync + replan). Kept at 2 so the oscillation
    * lookback (labels two rounds ago) is exactly the previous segment
    * boundary — one 3-frame join answers both stop questions. */
  val LpaCheckEvery = 2

  /** q145: q140's production form — label propagation iterated until a
    * CHECKED round (every [[LpaCheckEvery]]) either CONVERGES (zero
    * labels changed vs the previous round; sync LPA is then a fixed
    * point, so overshooting a mid-segment fixed point is harmless) or
    * OSCILLATES (zero labels changed vs TWO rounds ago while the
    * one-round delta is nonzero — the 2-cycle sync LPA is known for on
    * bipartite-ish structure; q140 pinned 3 rounds precisely to dodge
    * it, this is the delta-based stop rule that handles it), capped at
    * [[LpaMaxRounds]].
    *
    * Scale design is q140's (stationary u-partitioned edges, one
    * node-sized exchange per round) plus q82's batched stop check: both
    * deltas ride ONE exchange-free 3-frame join per segment (everything
    * is HashPartitioning(v)) feeding a 1-row aggregate to the driver —
    * the minimum a stop decision needs.
    *
    * The stop decision is hash-exact cross-engine (integer labels,
    * integer change counts), so `n_rounds`/`converged`/`oscillated` are
    * part of the oracle-checked output: the oracle unrolls
    * [[LpaMaxRounds]] rounds, derives the per-checkpoint deltas, and
    * SELECTS the stop round itself — unlike q82's pinned iteration
    * count, the round count here differs per SF (4/6/8 at
    * sf0.001/0.01/0.1, PLANS.md), so the oracle must compute it. */
  def q145LpaConverge(s: SparkSession, dir: String): DataFrame =
    lpaConvergeCore(copurchaseEdgesPartitioned(s, dir))

  /** q145 core over any mirrored (u, v) edge frame — spec entry (the
    * oscillation fixture drives it directly). */
  private[graft] def lpaConvergeCore(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val frames = new Rounds()
    var labels = frames(lpaInit(edges))
    var rounds = 0
    var d1 = -1L // labels changed vs previous round
    var d2 = -1L // labels changed vs two rounds ago
    while (rounds < LpaMaxRounds && d1 != 0 && d2 != 0) {
      val lm2 = labels // segment start = round k−2 (LpaCheckEvery = 2)
      val lm1 = frames(lpaRound(edges, lm2))
      labels = frames(lpaRound(edges, lm1))
      // both stop deltas in ONE action: 3-frame join, all sides
      // HashPartitioning(v), 1-row aggregate to the driver
      // stays AQE-planned (round-18 A/B): unlike q82's sync (an AQE-off win at the time),
      // this join's three sides are bare lazy checkpoints with unknown
      // partitioning, so a static plan plants three real exchanges that
      // AQE instead coalesces — measured 7.21 vs 7.48 in favor of AQE
      val row = labels
        .join(lm1.select($"v", $"lab".as("lab1")), Seq("v"))
        .join(lm2.select($"v", $"lab".as("lab2")), Seq("v"))
        .agg(sum(when($"lab" =!= $"lab1", 1L).otherwise(0L)).as("d1"),
          sum(when($"lab" =!= $"lab2", 1L).otherwise(0L)).as("d2"))
        .head()
      d1 = row.getLong(0); d2 = row.getLong(1)
      frames.settle(labels)
      rounds += LpaCheckEvery
    }
    labels.select($"v".as("l_partkey"), $"lab".as("community"),
        lit(rounds.toLong).as("n_rounds"),
        lit(d1 == 0).as("converged"),
        lit(d1 != 0 && d2 == 0).as("oscillated"))
      .orderBy($"l_partkey")
  }

  /** Oracle: unroll [[LpaMaxRounds]] rounds, derive (d1, d2) at every
    * checked round, then COMPUTE the stop round n = first checked k with
    * d1 = 0 or d2 = 0 (else the cap) and select that round's labels via
    * a CASE over the checkpoint frames — the oracle re-derives the stop
    * decision rather than trusting a pinned count. */
  val q145Sql: String = {
    val checked = (LpaCheckEvery to LpaMaxRounds by LpaCheckEvery).toSeq
    val dRows = checked.map { k =>
      s"""  SELECT $k AS k,
         |    (SELECT COUNT(*) FROM l$k a JOIN l${k - 1} b ON a.v = b.v AND a.lab <> b.lab) AS d1,
         |    (SELECT COUNT(*) FROM l$k a JOIN l${k - 2} b ON a.v = b.v AND a.lab <> b.lab) AS d2""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val joins = checked.tail.map(k => s"JOIN l$k USING (v)").mkString(" ")
    val cases = checked.map(k => s"WHEN $k THEN l$k.lab").mkString(" ")
    s"""${graphSql(mat = true)},
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS v, u AS lab FROM edges)${lpaRoundsSql(LpaMaxRounds, "edges", mat = true)},
       |d AS (
       |$dRows),
       |stop AS (SELECT CAST(COALESCE(MIN(k), $LpaMaxRounds) AS BIGINT) AS n
       |         FROM d WHERE d1 = 0 OR d2 = 0)
       |SELECT l${checked.head}.v AS l_partkey,
       |  CASE (SELECT n FROM stop) $cases END AS community,
       |  (SELECT n FROM stop) AS n_rounds,
       |  (SELECT COUNT(*) > 0 FROM d WHERE k = (SELECT n FROM stop) AND d1 = 0) AS converged,
       |  (SELECT COUNT(*) > 0 FROM d
       |   WHERE k = (SELECT n FROM stop) AND d1 > 0 AND d2 = 0) AS oscillated
       |FROM l${checked.head} $joins
       |ORDER BY l_partkey""".stripMargin
  }

  // ---- q141: incremental community assignment (new nodes, frozen labels) ----

  /** New-node selector: every 5th part key is "today's batch". */
  val LpaNewMod = 5

  /** q141: the INCREMENTAL face of q140 — q89/q124's daily-ingest
    * contract applied to the graph family: yesterday's graph is already
    * labeled (3-round LPA over OLD-node edges only); today's new nodes
    * attach by ONE assignment round — each adopts the most frequent
    * community among its old neighbors (same struct-argmax tie-break),
    * and a new node with no old neighbor founds its own community
    * (label = its id). Nothing corpus-sized recomputes: the corpus
    * labels are frozen, the assignment joins only the batch-incident
    * edge slice against the node-sized label vector.
    *
    * Output: one row per NEW node with its assigned community and its
    * LABELED-old-neighbor count (0 = founder). The count covers old
    * neighbors that received a label from the old-edge LPA run — an old
    * node whose only edges go to new nodes has no old-graph edges, so it
    * carries no frozen label and casts no vote; a new node whose old
    * neighbors are all unlabeled therefore founds its own community with
    * n_old_neighbors = 0 (both engines agree; the oracle votes join has
    * the same membership). Oracle: the same filtered edge CTEs, the
    * shared LPA round text, and one assignment round. */
  def q141LpaAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdgesPartitioned(s, dir)
    val isNew = (c: Column) => pmod(c, lit(LpaNewMod.toLong)) === 0L
    val oldEdges = edges.where(!isNew($"u") && !isNew($"v"))
    // labeledCore, not lpaCore: the frozen labels are an intermediate
    // here, so q140's deterministic output sort (a range exchange plus
    // its sampling pass) would be pure waste before the votes join
    val labels = labeledCore(oldEdges, LpaRounds)
      .select($"v".as("u"), $"lab".as("community"))
    // batch-incident slice: old neighbor u -> new node v
    val newNodes = edges.select($"u".as("v")).where(isNew($"v")).distinct()
    val votes = edges.where(!isNew($"u") && isNew($"v"))
      .join(labels, Seq("u"))
      .groupBy($"v", $"community").agg(count(lit(1)).as("cnt"))
    val assigned = votes.groupBy($"v")
      .agg(max(struct($"cnt", (-$"community").as("nl"))).as("m"),
        sum($"cnt").as("n_old_neighbors"))
      .select($"v", (-$"m.nl").as("community"), $"n_old_neighbors")
    newNodes.join(assigned, Seq("v"), "left")
      .select($"v".as("l_partkey"),
        coalesce($"community", $"v").as("community"), // founder
        coalesce($"n_old_neighbors", lit(0L)).as("n_old_neighbors"))
      .orderBy($"l_partkey")
  }

  val q141Sql: String =
    s"""$GraphSql,
       |oedges AS (SELECT u, v FROM edges
       |           WHERE u % $LpaNewMod <> 0 AND v % $LpaNewMod <> 0),
       |l0 AS (SELECT DISTINCT u AS v, u AS lab FROM oedges)${lpaRoundsSql(LpaRounds, "oedges")},
       |newn AS (SELECT DISTINCT u AS v FROM edges WHERE u % $LpaNewMod = 0),
       |votes AS (
       |  SELECT e.v, l.lab AS community, COUNT(*) AS cnt
       |  FROM edges e JOIN l$LpaRounds l ON l.v = e.u
       |  WHERE e.u % $LpaNewMod <> 0 AND e.v % $LpaNewMod = 0
       |  GROUP BY 1, 2),
       |assigned AS (
       |  SELECT v, ms.lab AS community, n_old FROM (
       |    SELECT v, MIN({'nc': -cnt, 'lab': community}) AS ms,
       |      CAST(SUM(cnt) AS BIGINT) AS n_old
       |    FROM votes GROUP BY v))
       |SELECT n.v AS l_partkey,
       |  COALESCE(a.community, n.v) AS community,
       |  COALESCE(a.n_old, 0) AS n_old_neighbors
       |FROM newn n LEFT JOIN assigned a ON a.v = n.v
       |ORDER BY l_partkey""".stripMargin

  // ---- q146: edge-churn incremental community maintenance ----

  /** Batch-edge selector for q146: a canonical pair (u, v) is part of
    * "today's" edge batch iff (u + v) % ChurnMod == 0 — symmetric, so it
    * selects consistently on the mirrored frame. */
  val ChurnMod = 7

  /** q146: the EDGE-churn dual of q141 — the other daily-ingest case the
    * round-11 verdict named: new edges arrive BETWEEN existing nodes, and
    * the fixed-round community labeling (q140's 3-round LPA) must be
    * maintained without a corpus-sized recompute.
    *
    * Method — frontier-bounded delta re-propagation (q79's delta idea
    * applied to labels): after k synchronous rounds a node's label
    * depends only on its k-hop neighborhood, so the only nodes whose
    * round-k label can differ from yesterday's are (inductively)
    * delta₀ = ∅, Cₖ = E₀ ∪ deltaₖ₋₁ ∪ N(deltaₖ₋₁) with E₀ = batch-edge
    * endpoints: a node outside Cₖ has the same edge set, the same own
    * label, and no neighbor whose label changed — its votes are
    * identical. Each round therefore recomputes votes ONLY for Cₖ
    * (semi-join prune of the stationary edge frame) against yesterday's
    * round-(k−1) labels PATCHED with deltaₖ₋₁, and keeps the rows that
    * differ from yesterday's round-k frame. The final answer is
    * yesterday's round-N labels patched with delta_N.
    *
    * Contract (the point of the operator): incremental ≡ the full
    * q140-shape recompute on the new graph — the ORACLE runs the full
    * recompute, so the equivalence is hash-checked per node, and the
    * spec pins it on a churn fixture. `changed` marks exactly the nodes
    * whose community differs from yesterday's run (or are new to the
    * graph), which both engines derive independently.
    *
    * Scale design: yesterday's per-round label frames are the REQUIRED
    * persisted state (node-sized × rounds — the q89/q124/q141 contract
    * extended by history; written at ingest like jobs/CodesIngest). Per
    * round the work is |edges incident to Cₖ| — churn-neighborhood-
    * proportional, never corpus-proportional: the full edge frame stays
    * stationary (HashPartitioning(u)), candidates/deltas are
    * churn-sized frames, and the only corpus-sized pass here is the
    * baseline old-graph run the fixture must itself build. */
  def q146LpaEdgeChurn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val full = copurchaseEdgesPartitioned(s, dir)
    val isBatch = ($"u" + $"v") % ChurnMod === 0
    // yesterday's history comes from the per-process memo — the in-app
    // analogue of the persisted state the scaladoc requires, so the
    // query itself pays only the churn-proportional delta rounds
    lpaChurnCore(full, isBatch,
      Some(lpaHistoryMemo(s, dir, full.where(!isBatch))))
  }

  /** q146 core: `full` is the mirrored new-graph edge frame, `isBatch`
    * the symmetric predicate selecting today's new edges; `histIn`
    * optionally supplies yesterday's persisted per-round history
    * (fixtures rebuild it in place). Spec entry. */
  private[graft] def lpaChurnCore(full: DataFrame,
      isBatch: org.apache.spark.sql.Column,
      histIn: Option[Vector[DataFrame]] = None): DataFrame = {
    import full.sparkSession.implicits._
    val oldE = full.where(!isBatch)
    val batch = full.where(isBatch)
    // yesterday's run WITH per-round history (the persisted state)
    val hist = histIn.getOrElse(lpaHistory(oldE))
    val e0 = batch.select($"u".as("v")).distinct().localCheckpoint(false)
    val (_, delta) = lpaAdvance(full, e0, hist)
    hist.last
      .join(delta.select($"v", $"lab".as("dlab")), Seq("v"), "full_outer")
      .select($"v".as("l_partkey"),
        coalesce($"dlab", $"lab").as("community"),
        $"dlab".isNotNull.as("changed"))
      .orderBy($"l_partkey")
  }

  /** Frontier-bounded LPA re-propagation over a churned graph — q146's
    * loop factored so [[graft.jobs.GraphIngest.advanceState]] can
    * PERSIST the roll-forward: given the NEW full (u, v) edge frame, the
    * churn-endpoint node set `e0`, and yesterday's per-round history,
    * returns (patched per-round history over the new graph, final
    * delta). Each patched round k ≡ a from-scratch lpaHistory(full)(k)
    * (GraphIngestSpec hash-pins it) but is computed with only
    * churn-neighborhood-sized joins per round — the candidate frontier
    * grows one hop per round from `e0` (a label after k rounds depends
    * only on the k-hop neighborhood). */
  private[graft] def lpaAdvance(full: DataFrame, e0In: DataFrame,
      hist: Vector[DataFrame]): (Vector[DataFrame], DataFrame) = {
    import full.sparkSession.implicits._
    val rounds = new Rounds()
    val e0 = rounds(e0In)
    var patched = Vector.empty[DataFrame]
    var delta: DataFrame = null
    for (k <- 1 to LpaRounds) {
      val cand = rounds(if (delta == null) e0
        else e0.unionByName(delta.select($"v"))
          .unionByName(full.join(delta.select($"v".as("u")).hint("shuffle_hash"),
            Seq("u")).select($"v"))
          .distinct())
      // yesterday's round-(k−1) labels patched with delta_{k−1}; round 0
      // is the identity labeling, which needs no stored frame. A node
      // absent from yesterday's frames (all its edges are new) is in E₀
      // and always lands in delta, so the patch covers every new-graph
      // node the votes join can reference.
      val lprev =
        if (k == 1) lpaInit(full)
        else patched(k - 2)
      // candidate prune keyed on the SOURCE, then mirror-swapped: the
      // edge frame is HashPartitioning(u), so a semi join on v would
      // re-shuffle the whole corpus-sized frame EVERY round (OPTIMIZATION_r19.md:
      // the 20–25 MB shuffle writes in each q146 round — churn-
      // independent, exactly what this operator exists to avoid). The
      // mirrored frame is symmetric with each orientation exactly once,
      // so {(u,v) ∈ E : v ∈ C} = swap({(u,v) ∈ E : u ∈ C}) row-for-row
      // (guide §2.4 "remove shuffles outright"): prune exchange-free on
      // u, swap columns, and only the churn-sized result shuffles into
      // the label join.
      val votes = full
        .join(cand.withColumnRenamed("v", "u").hint("shuffle_hash"), Seq("u"), "left_semi")
        .select($"v".as("u"), $"u".as("v"))
        .join(lprev.withColumnRenamed("v", "u").hint("shuffle_hash"), Seq("u"))
        .select($"v", $"lab")
        .unionByName(lprev.join(cand, Seq("v"), "left_semi")) // self-vote
      val newlab = votes.groupBy($"v", $"lab").agg(count(lit(1)).as("cnt"))
        .groupBy($"v")
        .agg(max(struct($"cnt", (-$"lab").as("nl"))).as("m"))
        .select($"v", (-$"m.nl").as("lab"))
      delta = rounds(newlab
        .join(hist(k - 1).select($"v", $"lab".as("olab")), Seq("v"), "left")
        .where(!($"olab" <=> $"lab"))
        .select($"v", $"lab"))
      patched :+= hist(k - 1)
        .join(delta.select($"v", $"lab".as("dlab")), Seq("v"), "full_outer")
        .select($"v", coalesce($"dlab", $"lab").as("lab"))
    }
    (patched, delta)
  }

  /** Oracle: the full q140-shape recompute over the NEW graph (the
    * equivalence contract), with yesterday's old-graph run unrolled
    * alongside (prefix `o`) to derive the `changed` flag independently. */
  val q146Sql: String =
    s"""${graphSql(mat = true)},
       |oedges AS MATERIALIZED (SELECT u, v FROM edges WHERE (u + v) % $ChurnMod <> 0),
       |ol0 AS MATERIALIZED (SELECT DISTINCT u AS v, u AS lab FROM oedges)${lpaRoundsSql(LpaRounds, "oedges", mat = true, pfx = "o")},
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS v, u AS lab FROM edges)${lpaRoundsSql(LpaRounds, "edges", mat = true)}
       |SELECT f.v AS l_partkey, f.lab AS community,
       |  (o.v IS NULL OR o.lab <> f.lab) AS changed
       |FROM l$LpaRounds f LEFT JOIN ol$LpaRounds o ON o.v = f.v
       |ORDER BY l_partkey""".stripMargin

  // ---- q143: bounded-hop weighted shortest paths (Bellman–Ford) ----

  /** Relaxation rounds: dist after K rounds = cheapest path from any
    * seed using ≤ K edges. Fixed and unrolled in the oracle. */
  val WspRounds = 4

  /** q143: weighted single-source(-set) shortest paths — the weighted
    * dual of q79's BFS: edge weight = co-purchase STRENGTH (shared
    * basket count), so the distance is the cheapest ≤[[WspRounds]]-hop
    * route from the seed set, not the fewest hops. Bellman–Ford by
    * synchronous relaxation: each round joins the stationary
    * u-partitioned edge list with the node-sized distance vector and
    * folds min(old, via-u) — integer weights, so every distance is
    * hash-exact.
    *
    * Scale design is q72/q140's: the WEIGHTED edge list is materialized
    * once partitioned on u; each of the 4 rounds exchanges only the
    * node-sized (u, dist) vector. The relax-union-min round is the
    * standard Pregel superstep expressed as join+agg. */
  def q143WeightedPaths(s: SparkSession, dir: String): DataFrame =
    weightedPathsCore(weightedEdgesPartitioned(s, dir), BfsSeedMax, WspRounds)

  /** q143 core over any mirrored weighted (u, v, w) edge frame — spec
    * entry point. Seeds = nodes with u < seedMax, distance 0. */
  private[graft] def weightedPathsCore(wedges: DataFrame, seedMax: Long,
      rounds: Int): DataFrame = {
    import wedges.sparkSession.implicits._
    val frames = new Rounds()
    var dist = frames(wedges.select($"u").where($"u" < seedMax).distinct()
      .withColumn("dist", lit(0L)))
    for (_ <- 1 to rounds) {
      val relax = wedges.join(dist.hint("shuffle_hash"), Seq("u"))
        .select($"v".as("u"), ($"dist" + $"w").as("dist"))
      dist = frames(dist.unionByName(relax)
        .groupBy($"u").agg(min($"dist").as("dist")))
    }
    dist.select($"u".as("l_partkey"), $"dist").orderBy($"l_partkey")
  }

  val q143Sql: String = {
    val rounds = (1 to WspRounds).map { k =>
      s"""d$k AS (
         |  SELECT u, MIN(dist) AS dist FROM (
         |    SELECT u, dist FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.v AS u, d.dist + e.w AS dist
         |    FROM wedges e JOIN d${k - 1} d ON d.u = e.u)
         |  GROUP BY u)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$GraphSql,
       |wpairs AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM lie a JOIN lie b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |wedges AS (SELECT u, v, w FROM wpairs UNION ALL SELECT v, u, w FROM wpairs),
       |d0 AS (SELECT DISTINCT u, CAST(0 AS BIGINT) AS dist
       |       FROM wedges WHERE u < $BfsSeedMax)$rounds
       |SELECT u AS l_partkey, dist FROM d$WspRounds ORDER BY l_partkey""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q143_weighted_paths"   -> (q143WeightedPaths _),
    "q141_lpa_assign"       -> (q141LpaAssign _),
    "q140_lpa_communities"  -> (q140LpaCommunities _),
    "q145_lpa_converge"     -> ((s, d) => q145LpaConverge(s, d)),
    "q146_lpa_edge_churn"   -> (q146LpaEdgeChurn _),
    "q66_pagerank_step"     -> (q66PagerankStep _),
    "q72_pagerank_iters"    -> (q72PagerankIters _),
    "q77_triangle_count"    -> sortSharedQuery(q77Triangles _),
    "q79_bfs_hops"          -> (q79BfsHops _),
    "q82_pagerank_converge" -> (q82PagerankConverge _),
  )

  val oracleSql: Map[String, String] = Map(
    "q143_weighted_paths"   -> q143Sql,
    "q141_lpa_assign"       -> q141Sql,
    "q140_lpa_communities"  -> q140Sql,
    "q145_lpa_converge"     -> q145Sql,
    "q146_lpa_edge_churn"   -> q146Sql,
    "q66_pagerank_step"     -> q66Sql,
    "q72_pagerank_iters"    -> q72Sql,
    "q77_triangle_count"    -> q77Sql,
    "q79_bfs_hops"          -> q79Sql,
    "q82_pagerank_converge" -> q82Sql,
  )
}
