package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(cores = 4)
    .appName("graft-test")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `f`'s result and the number of Spark jobs it started. The listener
    * bus is drained before the listener is added (earlier jobs' queued
    * events are not counted) and before it is read. */
  def countJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusShim.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      ListenerBusShim.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Count shuffle exchanges with AQE disabled (AQE wraps the executed
    * plan in AdaptiveSparkPlanExec, hiding children from collect;
    * sparkPlan is pre-EnsureRequirements and has no exchanges at all). */
  def countShuffles(mkDf: => org.apache.spark.sql.DataFrame): Int = {
    var n = -1
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      n = mkDf.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
    }
    n
  }
}
