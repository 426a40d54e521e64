package graft

import org.apache.spark.ListenerBusShim
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{ConnectedComponents, FrameMemo, Materialize}
import graft.queries.{GraphQueries, TextQueries}

/** [[Materialize.Rounds]]: a loop with a stop-decision action frees the
  * rounds it has superseded, and `settle` never frees what a pending
  * plan still reads. All suites share one session, so every count is
  * over RDD ids created after the test's own mark. */
class RoundsSpec extends SparkSuite {
  import spark.implicits._

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  /** Runs `f` and returns how many RDDs created during it are still
    * persistent afterwards. `getPersistentRDDs` holds its RDDs weakly, so
    * every checkpoint a query reads during `f` is pinned here: the count
    * then shows what was left unfreed, not when the JVM last collected. */
  private def leftPersistent(f: => Unit): Int = {
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Int].id
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
    val pin = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach { case l: LogicalRDD => pinned.add(l.rdd); case _ => }
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(pin)
    try {
      f
      ListenerBusShim.drain(sc)
      assert(!pinned.isEmpty)
      sc.getPersistentRDDs.keys.count(_ > mark)
    } finally spark.listenerManager.unregister(pin)
  }

  test("the sync loops keep only the frames their result reads") {
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val minLabel = leftPersistent {
      val labels = ConnectedComponents.components(path, "a", "b").collect()
      assert(labels.length == 10 && labels.forall(_.getLong(1) == 0L))
    }
    assert(minLabel <= 1, s"min-label CC left $minLabel persistent frames")

    val star = leftPersistent {
      val labels = ConnectedComponents.componentsStar(path, "a", "b").collect()
      assert(labels.length == 10 && labels.forall(_.getLong(1) == 0L))
    }
    assert(star <= 2, s"star CC left $star persistent frames")

    // bridged triangles: converges at round 4, two checked segments
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = (tri ++ tri.map(_.swap)).toDF("u", "v")
    val lpa = leftPersistent {
      val rows = GraphQueries.lpaConvergeCore(edges).collect()
      assert(rows.head.getLong(2) == 4L)
    }
    assert(lpa <= 1, s"converging LPA left $lpa persistent frames")

    val bpe = leftPersistent {
      val merges = TextQueries.bpeMergesCore(spark,
        Seq("abcd abcd abce", "bcd abd").toDF("text"), 5).collect()
      assert(merges.length == 5)
    }
    assert(bpe <= 2, s"BPE training left $bpe persistent frames")
  }

  test("settle waits for the kept frame to materialize, and spares foreign frames") {
    val foreign = spark.range(10).toDF("x").localCheckpoint(true)
    val rounds = new Materialize.Rounds()
    val first = rounds(spark.range(100).toDF("x"), eager = true)
    val lazyNext = rounds(first.select(($"x" + 1).as("x")))
    val Seq(firstId, nextId, foreignId) =
      Seq(first, lazyNext, foreign).map(FrameMemo.rddIdOf(_).get)

    rounds.settle(lazyNext)
    assert(persisted(firstId), "settle freed a frame a pending checkpoint reads")
    assert(lazyNext.as[Long].collect().sorted.toSeq == (1L to 100L))

    rounds.settle(lazyNext) // now materialized: the first round is superseded
    assert(!persisted(firstId) && persisted(nextId))
    assert(persisted(foreignId), "settle freed a frame it did not make")
    assert(lazyNext.count() == 100L)
  }
}
