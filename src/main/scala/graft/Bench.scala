package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line with per-query seconds.
  *
  * Materialization uses the `noop` sink, not count(): count() lets
  * Catalyst prune every unused projection, which would fake out the
  * map-heavy queries; noop forces full evaluation of the final plan
  * without any write cost. A warmup pass absorbs session/codegen/JIT
  * startup, and SPARK_GRAFT_WARMUP_REPS (default 1) untimed per-query
  * warm-up executions absorb each query's own first-touch costs, so
  * per-query numbers reflect steady state.
  *
  * Each query runs SPARK_GRAFT_REPS times (default 3) and reports the
  * MIN: the host this runs on shows sustained external load spikes
  * (round-6 driver run: a map-only query at 29.8s vs 1.1s locally, q77
  * at 73.8s vs 3.7s — 20×+ inflation with identical code), and under
  * sustained interference the median is as contaminated as the mean.
  * The min of N reps is the standard noisy-microbenchmark statistic and
  * is what matches an isolated re-run on a quiet host (round 5's judge
  * adjudication: driver median 14.2s, isolated re-run 2.80s). The full
  * min/med/max spread per query still goes to stderr, so an interfered
  * run is self-diagnosing.
  *
  * Truncation-proofing: the consumer captures only the LAST ~2000 bytes
  * of stdout, and round 6's 83-query full-name line (~2.8 KB) no longer
  * fit — the driver recorded `parsed: null`. The stdout line therefore
  * keys queries by their UNIQUE qNN prefix ("q77" for
  * q77_triangle_count, exactly the contract's documented shape),
  * printed ONCE: round 7 printed it twice and the tail window then held
  * a truncated first copy ahead of the complete second one, which —
  * combined with sbt's "[info] " decoration of the forked stdout (now
  * disabled via run/outputStrategy := StdoutOutput in build.sbt) — kept
  * the parse failing. At 161 queries even the qNN line overflowed again
  * (rounds 15–16: ~2.4 KB), so the stdout copy is now additionally
  * MINIMAL-envelope (contract fields + "comparable"/"failed" only; sf
  * as basename) and PRECISION-ADAPTIVE: the highest of 3/2/1 decimals
  * whose line fits SPARK_GRAFT_STDOUT_BUDGET bytes (default 1880 —
  * 2000 minus sbt's "[success] Total time ..." trailer and slack). The
  * FULL-name, full-envelope, 3-decimal line is written to
  * SPARK_GRAFT_BENCH_OUT (default ./bench_result.json) for the
  * committed records.
  *
  * SPARK_GRAFT_ONLY=q66_pagerank_step,q72_pagerank_iters restricts the
  * run for focused iteration: tokens match query names EXACTLY (round
  * 3's substring match made "q6" select q60–q69); unknown tokens warn,
  * an empty selection is an error, and the selected set is printed.
  *
  * Host-load evidence (VERDICT r10 #6): rounds 5/7/9 needed manual
  * adjudication of totals contaminated by external host load. The record
  * now carries the 1-minute load average and the /proc process count at
  * bench start AND end ("load":[start,end],"nproc":[start,end]) so the
  * call is mechanical: a load far above SPARK_GRAFT_CPUS during the run
  * means the total is not comparable across rounds. "comparable":false
  * additionally marks any record with a non-empty "failed" list — an
  * all-reps-failed query contributes 0 to the total, and nothing should
  * read such a total as a speedup (ADVICE r10).
  *
  * SPARK_GRAFT_STREAMS=4 appends a throughput test (the TPC-DS
  * multi-stream shape): N threads each run the full selected query list
  * once, order rotated per stream so the streams collide on different
  * scans at any instant; the wall-clock goes out as
  * "concurrent_streams":N,"concurrent_wall_sec":S beside the serial
  * per-query numbers. Default off — the driver's serial contract is
  * unchanged.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // host-load evidence, sampled before warmup and again at record time
    def loadAvg(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def nproc(): Int =
      try {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
        try s.filter(p => p.getFileName.toString.forall(_.isDigit)).count().toInt
        finally s.close() // directory handle leaks without an explicit close
      } catch { case _: Throwable => -1 }
    val loadStart = loadAvg()
    val nprocStart = nproc()

    // warmup: JIT/codegen + parquet footers for every table
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.names.foreach { n =>
      try {
        val df = if (n == "events") Tables.events(spark, sfDir)
                 else Tables.table(spark, sfDir, n)
        df.limit(1000).write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }
    }

    // (duration, succeeded): a failed rep's duration must never become
    // the query's reported number — under the min statistic a transient
    // 0.2s failure would beat every real 3s run and understate the query
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        // the declared query, exactly as SparkEntry exposes it (round-19:
        // the round-18 harness-level sortShared wrap regressed the
        // driver's 32-core bench 33% — the final-stage-reuse rewrite now
        // lives in the query layer, applied per measured win, so the
        // harness times fn(spark, sfDir) verbatim again)
        try { fn(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    only.foreach { toks =>
      val unknown = toks.filterNot(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(s"[bench] SPARK_GRAFT_ONLY tokens matching no query: ${unknown.mkString(",")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.contains(name)) }
    if (selected.isEmpty) {
      System.err.println("[bench] SPARK_GRAFT_ONLY selected no queries — aborting")
      spark.stop()
      sys.exit(2)
    }
    System.err.println(s"[bench] ${selected.size} queries: ${selected.map(_._1).mkString(",")}")
    def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // per-query warm-up reps, EXCLUDED from the statistic (VERDICT r11
    // #8): the first execution of an iterative query pays first-touch
    // costs (codegen/JIT of its loop body, shared-frame build) that a
    // steady-state number should not carry — the driver's single-pass
    // record over-reported the graph family 3-4× without this
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUP_REPS", "1").toInt
    val results = selected.map { case (name, fn) =>
      (1 to warmups).foreach { _ => runOnce(name, fn); SparkEntry.releaseQueryState(spark) }
      // release BETWEEN reps too: rep 1 of the graph queries measured at
      // its isolated-run time while reps 2-3 ran 2-3× slower against
      // rep 1's lingering checkpoint blocks — the median then reported
      // the contaminated number (round-6 finding, same shape as round
      // 5's cross-query phantom)
      val runs = (1 to reps).map { _ =>
        val r = runOnce(name, fn); SparkEntry.releaseQueryState(spark); r
      }
      // failed reps are excluded from the statistic; a query with NO
      // successful rep is EXCLUDED from the timing fields entirely and
      // carried in the record's "failed" list instead — r9's committed
      // record presented three all-reps-failed queries as 0.07–0.22s
      // "timings" (failure durations), skewing the total (ADVICE r9)
      val good = runs.collect { case (t, true) => t }.sorted
      if (good.length < reps)
        System.err.println(s"[bench] $name: ${reps - good.length}/$reps reps FAILED")
      if (good.nonEmpty) {
        // per-rep spread makes an anomalous rep self-diagnosing in logs
        System.err.println(s"[bench] $name min/med/max = " +
          s"${sec(good.head)}/${sec(good(good.length / 2))}/${sec(good.last)}")
      }
      name -> good.headOption
    }
    val failed = results.collect { case (k, None) => k }
    val timed = results.collect { case (k, Some(v)) => k -> v }

    // serial-run host evidence is sampled HERE, before the (deliberately
    // saturating) stream pass, and reused by both jsonLine emissions —
    // re-sampling per call gave the file and stdout records different
    // end brackets for the same run (review finding)
    val loadEnd = loadAvg()
    val nprocEnd = nproc()

    // optional multi-stream throughput pass (see scaladoc). A malformed
    // env value must not discard the serial record already earned.
    val streams = sys.env.get("SPARK_GRAFT_STREAMS")
      .flatMap(_.trim.toIntOption match {
        case None => System.err.println(
          "[bench] ignoring non-integer SPARK_GRAFT_STREAMS"); None
        case s => s
      }).getOrElse(0)
    val streamFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    val concurrentWall: Option[Double] =
      if (streams <= 0) None
      else {
        SparkEntry.releaseQueryState(spark)
        val names = selected.map(_._1)
        val t0 = System.nanoTime()
        val threads = (0 until streams).map { sid =>
          val order = names.drop(sid * names.size / streams) ++
            names.take(sid * names.size / streams)
          val t = new Thread(() => order.foreach { n =>
            try SparkEntry.queries(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              streamFailures.incrementAndGet()
              System.err.println(s"[bench] stream $sid $n failed: ${e.getMessage}") }
          }, s"bench-stream-$sid")
          t.start(); t
        }
        threads.foreach(_.join())
        val wall = (System.nanoTime() - t0) / 1e9
        SparkEntry.releaseQueryState(spark)
        System.err.println(f"[bench] $streams concurrent streams x ${names.size} queries: $wall%.1f s wall")
        Some(wall)
      }

    def jsonLine(key: String => String): String = {
      val qs = timed.map { case (k, v) => "\"" + key(k) + "\":" + sec(v) }
        .mkString("{", ",", "}")
      val fs = failed.map("\"" + key(_) + "\"").mkString("[", ",", "]")
      val total = timed.map(_._2).sum
      // "stat":"min" marks the round-7 median→min statistic switch so
      // cross-round total comparisons don't conflate a real regression
      // with the statistic change (r01–r06 totals are medians).
      // a wall time over failed executions is not a throughput number —
      // the failure count travels with it so consumers can't misread one
      val conc = concurrentWall
        .map(w => s""","concurrent_streams":$streams,"concurrent_wall_sec":${sec(w)},"concurrent_failed":${streamFailures.get()}""")
        .getOrElse("")
      // "warmups" + "memo_spared" mark the round-12/13 methodology
      // changes (per-query untimed warm-up reps; shared memoized frames
      // spared by releaseQueryState) the same way "stat":"min" marks the
      // round-7 statistic switch — consumers must not read these totals
      // as like-for-like against records lacking the markers (ADVICE r12)
      // "cpus" records the core count the run actually used (VERDICT r18
      // #7): cross-core-count records must not be conflated — the r18
      // regression was only visible because the driver ran paired 32c/8c
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","stat":"min","warmups":$warmups,"memo_spared":true,"cpus":$cpus,"comparable":${failed.isEmpty},"load":[${sec(loadStart)},${sec(loadEnd)}],"nproc":[$nprocStart,$nprocEnd],"failed":$fs$conc,"queries":$qs,"sf":"$sfDir"}"""
    }
    // full names + full evidence envelope to the file; unique qNN
    // prefixes on stdout (tail-window budget — see scaladoc). Prefix
    // collisions (none today) fall back to full names.
    val prefixes = results.map(_._1).groupBy(_.takeWhile(_ != '_'))
      .collect { case (p, ns) if ns.size == 1 => ns.head -> p }
    val line = jsonLine(identity)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] write $out: ${e.getMessage}") }
    // The consumer keeps only the LAST ~2000 bytes of stdout, and sbt's
    // "[success] Total time ..." trailer (~80 bytes) lands after this
    // line — at 161 queries the r16 full-envelope short line (~2.4 KB)
    // overflowed the window and the round artifact recorded
    // `parsed: null` (VERDICT r16 item 8). The stdout line is therefore
    // (a) LEAN-envelope — the contract fields, the comparability pair
    // ("comparable"/"failed"), and (ADVICE r17) the fields a consumer
    // needs to READ the per-query values correctly: "prec" (the chosen
    // decimals — at prec<2 a value like 0.1 carries ±50% relative error
    // and per-query analysis must use the SPARK_GRAFT_BENCH_OUT file,
    // whose values are always 3-decimal) and the statistic-regime
    // markers ("stat"/"warmups"/"memo_spared" — without them a reduced-
    // precision line was indistinguishable from a pre-round-7 median
    // record). Only the host-evidence arrays (load/nproc) stay
    // file-only, and the sf dir is shortened to its basename (the
    // driver records the numeric sf itself). And
    // (b) PRECISION-ADAPTIVE: per-query values print at the highest of
    // 3/2/1 decimals (trailing zeros trimmed) whose line fits the byte
    // budget, so the line keeps parsing as the query count grows. Full
    // 3-decimal precision is always in the file; the stdout copy exists
    // so the round artifact parses at all.
    def stdoutLine(prec: Int): String = {
      def fmt(v: Double): String = {
        val s0 = s"%.${prec}f".formatLocal(java.util.Locale.ROOT, v)
        if (s0.contains('.'))
          s0.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
        else s0
      }
      val qs = timed.map { case (k, v) =>
        "\"" + prefixes.getOrElse(k, k) + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val fs = failed.map(n => "\"" + prefixes.getOrElse(n, n) + "\"")
        .mkString("[", ",", "]")
      val sfName = new java.io.File(sfDir).getName
      s"""{"metric":"total","value":${sec(timed.map(_._2).sum)},"unit":"sec","prec":$prec,"stat":"min","warmups":$warmups,"memo_spared":true,"cpus":$cpus,"comparable":${failed.isEmpty},"failed":$fs,"queries":$qs,"sf":"$sfName"}"""
    }
    // a malformed env value must not discard the serial record already
    // earned (the SPARK_GRAFT_STREAMS convention above); the ladder is
    // lazy so the common first-fit case formats the line once
    val budget = sys.env.get("SPARK_GRAFT_STDOUT_BUDGET")
      .flatMap(_.trim.toIntOption match {
        case None => System.err.println(
          "[bench] ignoring non-integer SPARK_GRAFT_STDOUT_BUDGET"); None
        case b => b
      }).getOrElse(1880)
    val chosen = Iterator(3, 2, 1).map(stdoutLine).find(_.length <= budget)
      .getOrElse {
        System.err.println("[bench] stdout line exceeds the tail-window " +
          "budget even at 1 decimal — the consumer may truncate it")
        stdoutLine(1)
      }
    println(chosen)
    spark.stop()
  }
}
