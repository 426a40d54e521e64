package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Round-19: the CC loops' convergence probes ride each iteration's
  * checkpoint job as observed metrics instead of dedicated follow-up
  * jobs. These tests pin (a) the load-bearing Spark contract — an
  * `Observation` completes under an EAGER `localCheckpoint` action and
  * carries the exact row metric — and (b) that the observed-metric loop
  * still converges to the exact fixpoint labels on a multi-iteration
  * fixture (a path, where min-label takes diameter+1 rounds).
  * StarCcSpec pins cross-variant equality on random graphs and the real
  * LSH pair graph. */
class CcObserveSpec extends SparkSuite {
  import spark.implicits._

  test("an Observation completes under an eager localCheckpoint and is exact") {
    val obs = Observation()
    val df = spark.range(1000).toDF("id")
      .where($"id" % 3 === 0)
      .observe(obs, count(when($"id" > 500, true)).as("n_big"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    // get blocks until the action's listener fires — a hang here means the
    // checkpoint stopped running under withAction/SQLExecution
    assert(obs.get("n").asInstanceOf[Long] == 334L)
    assert(obs.get("n_big").asInstanceOf[Long] == 167L)
    assert(df.count() == 334L) // the checkpointed frame is intact
  }

  test("min-label components converge exactly on a path (multi-iteration loop)") {
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = ConnectedComponents.components(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 10)
    assert(labels.values.toSet == Set(0L), "all nodes label to the path head")
  }

  test("the CC loops submit no dedicated convergence-probe jobs") {
    // path 0..5: min-label needs 6 update rounds (5 to converge + 1
    // no-change round). The bounds are the loops' own
    // checkpoint jobs (AQE runs one job per exchange stage under each
    // action: 39 and 43 on this fixture) plus slack 3. A dedicated probe
    // action per round — `isEmpty` on the min-label update, `count` on
    // the star edge sets — adds 7 and 16 jobs (46 and 59), so restoring
    // either fails here. Job callsites are no use as the signal: under
    // AQE they name the stage-submission thread, not the caller.
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("a", "b")
      .localCheckpoint(true) // isolate fixture prep from the counted jobs
    val (labels, minLabelJobs) = countJobs(ConnectedComponents.components(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(labels.values.toSet == Set(0L))
    assert(minLabelJobs <= 42, s"min-label CC launched $minLabelJobs jobs")
    val (star, starJobs) = countJobs(ConnectedComponents.componentsStar(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(star.values.toSet == Set(0L))
    assert(starJobs <= 46, s"star CC launched $starJobs jobs")
  }
}
