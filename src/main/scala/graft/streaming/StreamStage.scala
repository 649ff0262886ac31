package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

/** Stages a batch frame as an ORDERED sequence of parquet files for the
  * file stream source — the device that lets a driver gate run a REAL
  * streaming query (watermarks, state, append mode) deterministically:
  * each cut writes one file, files carry ascending names AND ascending
  * modification times, so `maxFilesPerTrigger = 1` replays them as
  * micro-batches in exactly the declared order on every run.
  */
object StreamStage {

  /** Clears `dir` and writes one single-file chunk per cut, named
    * `chunk_00.parquet …` with strictly ascending mtimes.
    *
    * The per-chunk filtered writes are independent single-task jobs, so
    * they run OVERLAPPED from a small thread pool (guide §2.6 — probed
    * in r12: concurrent single-task parquet writes to distinct dirs show
    * no committer or fs contention, wall ≈ max of the writes instead of
    * their sum; the r11 "+1.1 s" counter-signal did not reproduce and
    * sat inside the documented steal-window noise). Everything
    * ORDER-SENSITIVE — the copy to ascending chunk names and the mtime
    * stamps that pin the file source's replay order — stays sequential
    * and driver-side, so the staged layout is byte-identical to the
    * sequential form. A failed cut cancels its sibling chunk jobs, and no
    * `<dir>__stage_tmp_*` sibling outlives the call, whether it succeeds
    * or fails.
    */
  def stageChunks(df: DataFrame, cuts: Seq[Column], dir: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(conf)
    fs.delete(target, true)
    fs.mkdirs(target)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(3, cuts.length)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // tags this call's chunk jobs, so a failed cut can cancel its siblings
    val tag = s"graft-stage-chunks-${java.util.UUID.randomUUID()}"
    try {
      val staged = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(cuts.zipWithIndex.map { case (cut, i) =>
          val tmp = new org.apache.hadoop.fs.Path(dir + s"__stage_tmp_$i")
          scala.concurrent.Future {
            spark.sparkContext.addJobTag(tag)
            fs.delete(tmp, true)
            df.where(cut).coalesce(1).write.parquet(tmp.toString)
            tmp
          }
        }), scala.concurrent.duration.Duration.Inf)
      staged.zipWithIndex.foreach { case (tmp, i) =>
        val part = fs.listStatus(tmp)
          .map(_.getPath).find(_.getName.startsWith("part-"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val dest = new org.apache.hadoop.fs.Path(target, f"chunk_$i%02d.parquet")
        org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dest, false, conf)
        // ascending mtimes pin the file source's processing order
        fs.setTimes(dest, 1700000000000L + i * 60000L, -1)
      }
    } catch {
      case e: Throwable =>
        // a failed cut: the sibling chunks may still be writing
        spark.sparkContext.cancelJobsWithTag(tag)
        throw e
    } finally {
      // drop queued chunks and wait for running ones, so no write lands
      // after the cleanup below
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      // every tmp sibling, also those of an earlier run that staged more cuts
      fs.listStatus(target.getParent)
        .filter(_.getPath.getName.startsWith(target.getName + "__stage_tmp_"))
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** Run a streaming frame to completion through an append-mode memory
    * sink and return the collected table (the temp view is dropped so
    * the gate is re-runnable in one session).
    *
    * State-store partitioning: a stateful streaming query fixes its
    * state partition count to `spark.sql.shuffle.partitions` at FIRST
    * start, and every micro-batch then pays a constant per-partition
    * commit cost (provider init, delta file create + fsync + rename)
    * on EVERY stateful operator, whatever the state volume. Sizing
    * state partitions to core count is therefore wrong on both ends:
    * tiny state (these staged replay gates: KB–MB of window/dedup
    * state) drowns in per-partition overhead, and 100 TB state wants
    * far MORE partitions than cores (target tens-of-MB of state per
    * partition so a store reload after failover is bounded). The count
    * is a state-volume parameter, not a parallelism parameter — so it
    * must be DECLARED: callers pass `statePartitions` sized to their
    * state volume (the replay gates pass 4, right for their MB-scale
    * state). Without it the query keeps the session's
    * `spark.sql.shuffle.partitions` — there is no silent tiny default to
    * under-partition 100 TB of state. The setting scopes to THIS query
    * (StreamExecution clones the session synchronously inside start(),
    * so restoring the conf right after is race-free; this helper assumes
    * the single-threaded gate/test harness — nothing else plans queries
    * on the session concurrently, or it could inherit the narrowed
    * setting) and applies to every shuffle inside it — correct for the
    * replayed gates, whose per-batch volumes are store-sized.
    */
  def runToMemory(stream: DataFrame, name: String,
                  mode: String = "append",
                  statePartitions: Option[Int] = None): DataFrame = {
    val spark = stream.sparkSession
    spark.catalog.dropTempView(name)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val q =
      try {
        statePartitions.foreach(n => spark.conf.set(key, n.toString))
        stream.writeStream.format("memory").queryName(name)
          .outputMode(mode).start()
      } finally spark.conf.set(key, prev)
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }
}
