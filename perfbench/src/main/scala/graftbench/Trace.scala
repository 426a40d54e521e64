package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Counters are SELF counts: every
  * listener event lands on the innermost span open when it is delivered,
  * and the bus is drained before a span closes, so with one client
  * thread the attribution is exact. */
final class Span(val id: Int, val name: String, val layer: String,
    val parent: Option[Span], val startNs: Long) {
  var endNs = 0L
  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double]
  /** (start, end) of every Spark job this span launched, epoch ms. */
  val jobs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = counters(k) = math.max(counters.getOrElse(k, 0.0), v)
}

/** Spans around the benchmark's calls into each layer, plus the Spark
  * listener and query-execution listener that feed them. Disabled, every
  * method is a pass-through and nothing is registered with Spark. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private val jobOwner = mutable.Map.empty[Int, (Span, Long)]
  /** RDD block id -> bytes (memory + disk) currently stored. */
  private val liveBlocks = mutable.Map.empty[String, Long]
  private var liveBytes = 0L
  /** Epoch ms at nanoTime 0 of this tracer, to put job times and span
    * times on one axis. */
  private val epochMsAtNs0 = System.currentTimeMillis() - System.nanoTime() / 1000000L
  def epochMs(ns: Long): Long = epochMsAtNs0 + ns / 1000000L

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, layer, current, System.nanoTime())
        spans += s
        current = Some(s)
        s
      }
      try f
      finally {
        s.endNs = System.nanoTime()
        BenchBus.drain(sc)
        s.add("blocks_live_after",
          sc.getRDDStorageInfo.map(_.numCachedPartitions.toDouble).sum)
        synchronized { current = s.parent }
      }
    }

  /** Run `f` on the innermost open span, if any. */
  def attribute(f: Span => Unit): Unit = synchronized { current.foreach(f) }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        current.foreach { s => s.add("jobs", 1); jobOwner(e.jobId) = (s, e.time) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobOwner.remove(e.jobId).foreach { case (s, t0) => s.jobs += ((t0, e.time)) }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = attribute { s =>
        s.add("stages", 1)
        if (e.stageInfo.attemptNumber() > 0) s.add("stage_resubmits", 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = attribute { s =>
        s.add("tasks", 1)
        if (e.reason != Success) s.add("task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_run_ms", m.executorRunTime.toDouble)
          s.add("task_cpu_ns", m.executorCpuTime.toDouble)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD) {
          val key = info.blockId.name
          val bytes = info.memSize + info.diskSize
          val before = liveBlocks.remove(key)
          liveBytes -= before.getOrElse(0L)
          if (info.storageLevel.isValid && bytes > 0) {
            liveBlocks(key) = bytes
            liveBytes += bytes
            if (before.isEmpty) current.foreach(_.add("blocks_created", 1))
          }
          current.foreach(_.max("storage_peak_bytes", liveBytes.toDouble))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        val ex = Tracer.exchanges(qe.executedPlan)
        attribute { s =>
          s.add("plan_ms", planMs.toDouble)
          s.add("exchanges", ex)
        }
      }
    })
  }
}

object Tracer {
  /** ShuffleExchange nodes in a plan's final (post-AQE) form, including
    * subqueries; a reused exchange is not counted twice. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}

/** Counts driver ERROR log events (and keeps the first few) through an
  * appender on the root logger, so a run that logs errors while every
  * query "succeeds" says so in its record. */
final class ErrorTap(onError: LogEvent => Unit)
    extends AbstractAppender("graftbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong()
  val samples: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      count.incrementAndGet()
      samples.synchronized {
        if (samples.size < 10)
          samples += s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}".take(300)
      }
      onError(e)
    }
}

object ErrorTap {
  def install(onError: LogEvent => Unit): ErrorTap = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val tap = new ErrorTap(onError)
    tap.start()
    ctx.getConfiguration.getRootLogger.addAppender(tap, Level.ERROR, null)
    ctx.updateLoggers()
    tap
  }
}

/** Heap occupancy right after GCs, summed over the heap pools, while a
  * pass is measured: the peak after any collection, and the peak after
  * full ("major") collections, which alone leave only live objects. */
object HeapWatch {
  @volatile var measuring = false
  private val peakAny, peakFull, gcs = new AtomicLong()
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (measuring && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            gcs.incrementAndGet()
            peakAny.accumulateAndGet(used, (a, b) => math.max(a, b))
            if (info.getGcAction.contains("major"))
              peakFull.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
      }, null, null)
    case _ =>
  }
  def start(): Unit = { Seq(peakAny, peakFull, gcs).foreach(_.set(0)); measuring = true }
  /** (peak after any GC, peak after a full GC, GC count) since [[start]]. */
  def stop(): (Long, Long, Long) = { measuring = false; (peakAny.get, peakFull.get, gcs.get) }
}
