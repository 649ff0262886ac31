package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Benchmark main: runs every registered query against SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":N,"unit":"sec","queries":{..}}.
  *
  * The action is a noop-sink write (`format("noop")`), not `.count()`: count
  * lets Catalyst prune every projection (a SELECT-shaped query would benchmark
  * only the scan), while the noop sink evaluates every output column and
  * discards rows at the sink — the honest cost of the full plan. Query
  * failures are NOT swallowed into a fast-looking time: the query gets
  * value -1 and its message lands in an "errors" object.
  *
  * Measurement note: seven gates guard an exact-regime precondition with
  * a small aggregate memoized per (JVM, dataset dir) through
  * `Registry.memoPrecondition` (six keys: q_quantile_sketch and
  * q_winsorize share one) — so pass 1 pays that scan and passes 2..n skip
  * it; the min-over-passes therefore times the gate WITHOUT the guard
  * scan. This is a declared exclusion (the guard is an assertion about
  * the fixture, not part of the measured computation), identical across
  * rounds since r8, so round-over-round comparisons are unaffected.
  *
  * Besides wall time, each query records shuffle bytes (read + write, summed
  * over tasks) and peak single-task execution memory, from listener task
  * metrics. Wall time at a small scale factor hides scale regressions — a
  * plan that starts shuffling 10× more data can still clear the 2× time bar
  * at sf0.1 while falling over at 100×; the bytes are the early warning.
  * It also counts the Spark jobs each query submits, construction included
  * (min over passes, like wall): at this scale wall is mostly jobs times
  * the fixed cost of a job.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val spark = Harness.session("graft-bench")
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    // Per-task metric accumulation. Queries run sequentially, so a running
    // counter snapshotted around each run attributes jobs and bytes per
    // query; the listener bus is async, so each run's counts are closed by
    // a drain (a sentinel job, itself not counted) before they are read.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong(0)
    val jobEvents = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (!Harness.isDrain(js.properties)) jobEvents.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          peakTaskMem.getAndAccumulate(m.peakExecutionMemory, math.max)
        }
      }
    })
    // Min over WHOLE-SUITE passes, not back-to-back repeats: this host shows
    // multi-MINUTE CPU-steal stall windows (a 0.4s query can read 30s, and
    // consecutive repeats land in the same window). Interleaving passes puts
    // minutes between the samples of each query, so a stall poisons at most
    // one of them; the min is the steady-state cost of the plan. Three
    // passes by default: two leave a query with a single clean sample when
    // a stall window eats one whole pass.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // optional comma-separated subset for targeted iteration (dev only;
    // the driver never sets it, so the recorded bench always runs everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val best = scala.collection.mutable.Map[String, Double]().withDefaultValue(Double.MaxValue)
    // max over passes: shuffle bytes are plan-determined and stable, but an
    // AQE re-plan or stray attribution should surface, not vanish in a min
    val shuf = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val peak = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val jobs = scala.collection.mutable.Map[String, Long]().withDefaultValue(Long.MaxValue)
    val errs = scala.collection.mutable.Map[String, String]()
    Harness.drainListenerBus(spark)
    for (_ <- 0 until iters; (name, fn) <- names if !errs.contains(name)) {
      val before = shuffleBytes.get()
      val jobsBefore = jobEvents.get()
      peakTaskMem.set(0)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable => errs(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}" }
      best(name) = math.min(best(name), (System.nanoTime() - t0) / 1e9)
      Harness.drainListenerBus(spark)
      shuf(name) = math.max(shuf(name), shuffleBytes.get() - before)
      peak(name) = math.max(peak(name), peakTaskMem.get())
      jobs(name) = math.min(jobs(name), jobEvents.get() - jobsBefore)
    }
    val results = names.map { case (name, _) =>
      (name, if (errs.contains(name)) -1.0 else best(name), errs.get(name))
    }
    val qs = results.map { case (k, v, _) => s"\"${esc(k)}\":$v" }.mkString("{", ",", "}")
    val sb = results.map { case (k, _, _) => s"\"${esc(k)}\":${shuf(k)}" }.mkString("{", ",", "}")
    val pm = results.map { case (k, _, _) => s"\"${esc(k)}\":${peak(k)}" }.mkString("{", ",", "}")
    val jb = results.map { case (k, _, _) => s"\"${esc(k)}\":${jobs(k)}" }.mkString("{", ",", "}")
    val errJson = results.collect { case (k, _, Some(m)) => s"\"${esc(k)}\":\"${esc(m)}\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    // The driver records only the TAIL of this line (last ~2000 chars), so
    // field order is survival order: per-query times (the headline metric)
    // go LAST; the bulkier diagnostics sit up front where truncation can
    // only cost us the diagnostics. The full line also lands in a file so
    // nothing is ever lost locally.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,"shuffle_bytes":$sb,"peak_task_mem":$pm,"jobs":$jb,"errors":$errJson,"queries":$qs}"""
    println(line)
    // bench_full.json: local scratch (gitignored), written every run.
    // BENCH_FULL.json: the TRACKED per-round record — written ONLY when
    // SPARK_GRAFT_BENCH_RECORD=1 (set by the builder for the round's
    // final sf0.1 run, then committed), so a driver scaling run at a
    // different core count can no longer clobber the committed record;
    // the "cpus" field in the line identifies the regime either way.
    val outs = Seq("bench_full.json") ++
      (if (sys.env.get("SPARK_GRAFT_BENCH_RECORD").contains("1"))
         Seq("BENCH_FULL.json") else Nil)
    for (out <- outs)
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          line.getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    spark.stop()
  }
}
