package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.GraftShim

/** Materialization helpers for iterative workloads. */
object Materialize {

  /** One AQE-off companion session per user session, created lazily.
    * `newSession()` shares the SparkContext (and our extensions) but has
    * an ISOLATED SQLConf, so planning a checkpoint there cannot race
    * with — or be observed by — queries planned concurrently in the
    * user's session (the round-4 conf-flip hazard).
    *
    * The map is a WeakHashMap keyed on the user session: a companion
    * must not pin its user session live forever (session-per-request
    * apps would leak a session pair per request). `newSession()` holds
    * only the shared SparkContext/SharedState — not its parent — so once
    * the user session is unreachable the entry (and companion) is
    * collectable. Planning-relevant runtime confs are re-copied from the
    * user session on EVERY call (under the companion's lock), so later
    * user conf changes (e.g. shuffle partitions) are reflected in
    * checkpoint planning rather than frozen at first use. */
  private val planners =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** Runtime confs that affect checkpoint planning, mirrored per call. */
  private val MirroredConfs = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.session.timeZone")

  private def noAqeSession(spark: SparkSession): SparkSession =
    planners.synchronized {
      var s = planners.get(spark)
      if (s == null) { s = spark.newSession(); planners.put(spark, s) }
      s
    }

  /** Share the final stage under a query's deterministic output sort.
    *
    * Every declared query ends in a global `orderBy` so its oracle dump
    * is deterministic. A global sort plants Exchange(rangepartitioning),
    * and RangePartitioner SAMPLES the exchange's child to pick bounds —
    * a reservoir pass that consumes every child partition's FULL
    * iterator as its own job. The child of that exchange is everything
    * after the previous stage boundary, so the final stage computes
    * TWICE per action: once for the sample, once for the shuffle map.
    * For a map-only query (no exchange anywhere else) that is the whole
    * scan + projection run twice — measured 2.0× on q78/q135/q27 at
    * sf0.1 (OPTIMIZATION_r18.md; optimization-guide §7.2 "duplicated
    * subtrees": the sampler is a hidden second consumer).
    *
    * Fix = the §9 plan-branch-reuse rule applied to the hidden branch:
    * lazily `localCheckpoint` the sort's child so the sample job
    * materializes the stage once and the shuffle map re-reads blocks.
    * The Sort stays the outermost operator over the same rows, so the
    * output row order — and therefore the driver's oracle hash — is
    * bit-identical; only the number of times the stage computes changes.
    *
    * WHERE TO APPLY (round-19, the round-18 lesson): this is a TRADE —
    * a result-sized block-store materialization buys one fewer compute
    * of the final stage — and round 18 shipped it unconditionally in the
    * bench/verify HARNESS, which taxed every query whose final stage is
    * cheap (the driver's 32-core run regressed 102/161 queries). It now
    * lives in the QUERY layer, applied per query where a paired
    * 32-core A/B showed a win (OPTIMIZATION_r19.md "sortShared
    * allowlist"), through [[sortSharedQuery]]; the bench and verify
    * mains time/dump the declared queries verbatim.
    *
    * Scale note: the checkpoint is a non-replicated executor-memory
    * materialization of the pre-sort result — on executor loss the job
    * must restart (lineage is truncated), and result-sized storage
    * replaces a shuffle that spills gracefully. Appropriate for the
    * bounded result frames it is applied to (top-k lists, per-domain
    * aggregates); production sinks that do not need the deterministic
    * output order should drop the final sort instead, which removes
    * both the exchange and the need for this helper.
    *
    * Identity on plans that do not end in a global Sort (1-row audit
    * queries): no behavior change. The sort keys are remapped onto the
    * checkpoint's fresh attribute ids positionally, so expression keys
    * (`orderBy(md5(..))`) survive. */
  def sortShared(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    df.queryExecution.analyzed match {
      case Sort(order, true, child, hint) =>
        val base = GraftShim.ofRows(df.sparkSession, child).localCheckpoint(false)
        val basePlan = base.queryExecution.analyzed
        val amap = AttributeMap(child.output.zip(basePlan.output))
        val newOrder = order.map(_.transform {
          case a: Attribute => amap.getOrElse(a, a)
        }.asInstanceOf[SortOrder])
        GraftShim.ofRows(df.sparkSession,
          Sort(newOrder, global = true, basePlan, hint))
      case _ => df
    }
  }

  /** The sortShared allowlist: each query registry under `queries/`
    * wraps a declared query's (session, dir) => frame function with this
    * at its registration site ONLY where a paired 32-core A/B measured a
    * win (OPTIMIZATION_r19.md "sortShared allowlist") — round 18 applied
    * the rewrite to all 163 queries from the harness and taxed every
    * query whose final stage was already cheap. */
  def sortSharedQuery(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, d) => sortShared(fn(s, d))

  /** The one way an iterative operator checkpoints its loop frames: one
    * `Rounds` per operator call; `rounds(df)` checkpoints a round's frame
    * and remembers it, `rounds.settle(keep*)` frees the superseded ones.
    *
    * Planning: `parts = None` is a plain AQE-planned `localCheckpoint`;
    * `Some(n)` plans through [[checkpointPartitioned]] at the family
    * width `n`, for frames a loop joins exchange-free on their key.
    *
    * Lazy or eager: a round is LAZY unless told otherwise. Lineage still
    * truncates per round, and the first action that reads the frame (the
    * loop's next stop-decision sync, or the caller's action after a
    * fixed-round loop) stores its blocks, so a round costs no dedicated
    * job. A frame is EAGER only where its own job is the point: a
    * loop-invariant frame every round re-reads (edges, degrees, nodes),
    * or a round whose stop metric is observed as the frame stores.
    *
    * Freeing: `settle(keep*)` unpersists every frame this `Rounds` made
    * except those `keep` reads, and only once all of those have
    * materialized (their `LogicalRDD`'s RDD `isCheckpointed`, so their
    * lineage no longer reaches an older frame); before that it is a
    * no-op. `keep` must name all the next round or the result reads;
    * frames a `Rounds` did not make (memos, history, the caller's) are
    * never touched. Loops with a stop-decision action settle right after
    * it. Fixed-round lazy loops run no action inside the operator, so
    * they never settle: their superseded rounds go when the
    * ContextCleaner collects the unreachable RDDs (or at
    * [[graft.SparkEntry.releaseQueryState]]). */
  final class Rounds(parts: Option[Int] = None) {
    private var made = Vector.empty[RDD[_]]

    def apply(df: DataFrame, eager: Boolean = false): DataFrame = {
      val frame = parts match {
        case None => df.localCheckpoint(eager)
        case n => checkpointPartitioned(df, eager, n)
      }
      made ++= checkpointsOf(frame)
      frame
    }

    def settle(keep: DataFrame*): Unit = {
      val kept = keep.flatMap(checkpointsOf)
      if (kept.forall(_.isCheckpointed)) {
        val ids = kept.map(_.id).toSet
        val (live, superseded) = made.partition(r => ids(r.id))
        superseded.foreach(_.unpersist(blocking = false))
        made = live
      }
    }
  }

  /** The checkpoint RDDs a frame reads (its `LogicalRDD` leaves). */
  private def checkpointsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd }

  /** `localCheckpoint()` that PRESERVES the frame's hash partitioning.
    *
    * Under AQE, `Dataset.localCheckpoint` captures the adaptive plan's
    * `outputPartitioning` before the final stage layout is surfaced, so
    * the resulting LogicalRDD reports `UnknownPartitioning` and every
    * downstream join/agg on the partition key re-plants an exchange —
    * exactly the per-iteration edge re-shuffle this helper exists to
    * avoid. The checkpoint is therefore PLANNED in the AQE-off companion
    * session (the frames checkpointed here end in an explicit keyed
    * repartition, the one exchange shape AQE could only disturb), and the
    * resulting LogicalRDD — now carrying the true HashPartitioning — is
    * re-wrapped into the caller's session. The analyzed plan re-executes
    * identically: it is fully resolved, so no catalog/temp-function state
    * from the original session is consulted.
    *
    * `eager = false` is a lazy checkpoint ([[Rounds]] states when a
    * loop uses which); with AQE off the partitioning is known statically,
    * so laziness does not cost the partitioning capture.
    *
    * `parts` (round-19, guide §2 "make partitioning scale-adaptive"):
    * because the companion plans with AQE OFF, every frame checkpointed
    * here is otherwise frozen at `spark.sql.shuffle.partitions` (= the
    * core count) partitions, and every downstream loop stage schedules
    * one tiny task per core per round regardless of data size (the
    * measured cost is on [[graft.queries.GraphQueries.graphParts]]).
    * `Some(n)`, with n derived from the caller's INPUT BYTES, plans the
    * frame at a data-proportional width instead. Co-partitioned callers
    * must pass the SAME n for every frame of one family, or the
    * exchange-free loop joins re-plant exchanges. */
  def checkpointPartitioned(df: DataFrame, eager: Boolean = true,
      parts: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val ns = noAqeSession(spark)
    // serialize conf-mirror + plan per companion: two threads of the
    // same user session must not observe each other's mirrored confs
    // mid-plan (the companion is per-user-session, so this lock is
    // uncontended in single-threaded use)
    val ckpt = ns.synchronized {
      ns.conf.set("spark.sql.adaptive.enabled", "false")
      MirroredConfs.foreach(k =>
        spark.conf.getOption(k).foreach(ns.conf.set(k, _)))
      // the caller's data-derived width overrides the mirrored global
      // (AFTER the mirror loop — see the `parts` scaladoc above)
      parts.foreach(n => ns.conf.set("spark.sql.shuffle.partitions", n.toString))
      // lazy inside the lock: the lock must cover conf-mirror + PLANNING
      // only — an eager checkpoint here would hold it for the whole
      // cluster job, serializing concurrent checkpoint calls
      GraftShim.ofRows(ns, df.queryExecution.analyzed).localCheckpoint(false)
    }
    // materialize OUTSIDE the lock (the plan is already fixed)
    if (eager) ckpt.queryExecution.toRdd.count()
    GraftShim.ofRows(spark, ckpt.queryExecution.analyzed)
  }
}
