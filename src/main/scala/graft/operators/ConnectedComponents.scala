package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation (the
  * dedup-clustering step: near-dup PAIRS become transitive CLUSTERS, and
  * each cluster's minimum id is its keeper).
  *
  * Each iteration: every node adopts the minimum label among itself and
  * its neighbors; stop when nothing changes. Converges to the unique
  * fixpoint (min node id per component) in O(diameter) iterations —
  * deterministic regardless of execution order.
  *
  * Scale: one shuffle per iteration (join on the edge endpoint); each
  * round is checkpointed through [[Materialize.Rounds]], which truncates
  * lineage so plans do not grow exponentially and frees the rounds the
  * loop has superseded. Near-dup graphs have tiny diameters (clusters of
  * copies), so 2-4 iterations in practice; GraphX/GraphFrames' large-star
  * algorithm is the >billion-edge alternative.
  */
object ConnectedComponents {

  /** @param pairs DataFrame with two id columns (undirected edges)
    * @return (id, cluster_id = min id in the component); only ids that
    *         appear in at least one pair are returned. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // Materialize the pair stage ONCE before mirroring: the undirected
    // union reads `pairs` twice, and without this checkpoint the whole
    // upstream pipeline (for q49, the full LSH candidate generation)
    // executes twice before the edges checkpoint even lands.
    val rounds = new Materialize.Rounds()
    val p = rounds(pairs.select(col(aCol).as("u"), col(bCol).as("v")), eager = true)
    val edges = rounds(p
      .unionByName(p.select(col("v").as("u"), col("u").as("v")))
      .distinct(), eager = true)
    var comp = rounds(edges.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id")), eager = true)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val neighborMin = edges.join(comp, edges("v") === comp("id"))
        .groupBy(col("u")).agg(min(col("comp")).as("ncomp"))
      // the convergence probe rides the checkpoint's own materialization
      // job as an observed metric (round-19): the former follow-up
      // `updated.where(comp < prev).isEmpty` job re-read the frame per
      // iteration just to answer one boolean, doubling the loop's job
      // count — and every job carries a fixed driver scheduling/planning
      // cost that the multi-CC pipeline queries (q100/q117/q154) pay
      // dozens of times. CollectMetrics aggregates exactly once per row
      // inside the same action, so the decision is identical.
      val obs = Observation()
      val updated = rounds(comp.join(neighborMin, comp("id") === neighborMin("u"), "left_outer")
        .select(comp("id"),
          least(comp("comp"), coalesce(col("ncomp"), comp("comp"))).as("comp"),
          comp("comp").as("prev"))
        .observe(obs, count(when(col("comp") < col("prev"), true)).as("n_improved")),
        eager = true)
      changed = obs.get("n_improved").asInstanceOf[Long] > 0L
      comp = updated.select(col("id"), col("comp"))
      rounds.settle(edges, comp)
      iter += 1
    }
    rounds.settle(comp)
    comp
  }

  /** Connected components by the alternating large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — the GraphFrames/GraphX production algorithm).
    *
    * Min-label propagation ([[components]]) needs O(diameter) rounds — a
    * chain of 10k re-posted near-duplicates means 10k shuffles. The star
    * operations contract long paths doubly-logarithmically: O(log² n)
    * rounds on ANY graph shape, each round one groupBy-join shuffle pair
    * over the current edge set:
    *
    *  - large-star: every node links its LARGER neighbors to its smallest
    *    neighbor-or-self (keeps edge count bounded: only smaller→larger
    *    edges are rewritten);
    *  - small-star: every node links its smaller neighbors and itself to
    *    the minimum among them.
    *
    * The fixpoint is a forest of depth-1 stars rooted at each component's
    * minimum id — the same labeling `components` converges to
    * (StarCcSpec pins equality on random graphs and a 512-node path).
    * Use this variant when the pair graph can contain long chains or
    * billions of edges; min-label when diameters are known-tiny. */
  def componentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    // canonical directed edges big→small, self-loops dropped. The edge
    // count rides the checkpoint job as an observed metric (round-19):
    // the fixpoint test below compares successive edge-set sizes, and
    // observing each frame's count at materialization time removes the
    // two dedicated count() jobs every iteration re-paid.
    val rounds = new Materialize.Rounds()
    val obs0 = Observation()
    var edges = rounds(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .observe(obs0, count(lit(1)).as("n")), eager = true)
    var edgeCnt = obs0.get("n").asInstanceOf[Long]
    val nodes = rounds(edges.select(col("u").as("id"))
      .unionByName(edges.select(col("v").as("id")))
      .distinct(), eager = true)

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      und.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e is already big→small; every group's neighbors are all smaller
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val obs = Observation()
      val next = rounds(smallStar(largeStar(edges))
        .observe(obs, count(lit(1)).as("n")), eager = true)
      val nextCnt = obs.get("n").asInstanceOf[Long]
      // exact fixpoint test on the canonical distinct edge sets — the
      // counts come from the observed metrics (no re-scan jobs); the
      // set-equality except job still runs, but only on the candidate
      // rounds where the counts match, exactly as the && short-circuited
      // before
      converged = nextCnt == edgeCnt && next.except(edges).isEmpty
      edges = next
      edgeCnt = nextCnt
      // the result reads the node frame and the final edge set only
      rounds.settle(nodes, edges)
      iter += 1
    }
    // fixpoint edges are depth-1 stars root←member; roots label themselves
    // (least() skips the null min for unmatched roots)
    nodes.join(edges, nodes("id") === edges("u"), "left_outer")
      .groupBy(col("id")).agg(min(col("v")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp"))
  }
}
