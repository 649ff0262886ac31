package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Buffer-until-watermark funnel: after the watermark seals every real
  * event, the last snapshot per user must equal the batch funnel walk —
  * proving the incremental fold (buffer + seal in ts order) IS the batch
  * sort-fold, micro-batching notwithstanding.
  */
class StreamingFunnelsSpec extends SparkSpec {

  private val dir = "/tmp/graft_funnel_events"
  private val steps = Seq("view", "click", "purchase")

  /** Stage the real events file, then two "closer" files of one future
    * step-1 event per user — each advances the watermark so the NEXT batch
    * seals more; closer events themselves always sit above the final
    * watermark (strictly increasing future ts), so they never fold.
    */
  private def stage(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/a_events.parquet"))
    val ev = graft.Tables.resolve(spark, sf)("events")
    val users = ev.select("user_id").distinct()
    (1 to 2).foreach { i =>
      users.select(
            (col("user_id") * 0 + 1000000 + i).cast("long").as("event_id"),
            // ts far beyond every real event, increasing per file; written in
            // the same NTZ-micros shape as the staged real events file so the
            // directory stream sees one schema
            expr(s"TIMESTAMP_NTZ '2030-0$i-01 00:00:00'").as("ts"),
            col("user_id"),
            lit("view").as("event_type"),
            lit(0.0).as("value"),
            lit("{}").as("props"))
          .write.mode("overwrite").parquet(s"$dir/closer_$i")
      // flatten into single files the stream reads after the real one
      val files = new java.io.File(s"$dir/closer_$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      java.nio.file.Files.copy(files.head.toPath,
        java.nio.file.Paths.get(s"$dir/z_closer_$i.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/closer_$i"))
    }
  }

  test("sealed snapshots equal the batch funnel walk") {
    stage()
    val stream = StreamingWindows
      .readEventsStream(spark, dir, Map("maxFilesPerTrigger" -> "1"))
      .withWatermark("ts", "1 second")
    val q = StreamingFunnels.funnelProgress(stream, steps)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(StreamingFunnels.FunnelOutputMode).start()
    try { q.processAllAvailable() } finally { q.stop() }

    // last snapshot per user (max steps; snapshots are monotone in steps)
    val got = spark.table("funnel_stream")
      .groupBy("user_id").agg(max("steps_completed").as("steps"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    val batch = graft.llm.EventFunnels.funnel(
        graft.Tables.resolve(spark, sf)("events"), steps)
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("steps_completed")).toMap

    assert(batch.nonEmpty && got.size === batch.size,
      s"stream covered ${got.size} users, batch ${batch.size}")
    batch.foreach { case (u, s) =>
      assert(got(u) === s, s"user $u: stream ${got(u)} vs batch $s")
    }
  }

  test("event exactly AT the watermark stays buffered until the watermark passes it") {
    // Spark only drops rows STRICTLY older than the watermark, so an
    // equal-ts peer may still arrive in a later batch — sealing at-or-below
    // would fold a tie before all its peers are in hand. Three one-event
    // files for one user: W, W+1s, W+2s with a 1s delay; after the second
    // file the watermark is exactly W and the W event must NOT have folded.
    val dir2 = "/tmp/graft_funnel_boundary"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir2))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir2))
    def writeOne(name: String, offsetSec: Int): Unit = {
      spark.range(0, 1, 1, numPartitions = 1).select(
          lit(9000L + offsetSec).as("event_id"),
          expr(s"TIMESTAMP_NTZ '2030-01-01 00:00:0$offsetSec'").as("ts"),
          lit(1L).as("user_id"),
          lit("view").as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$dir2/stage")
      val f = new java.io.File(s"$dir2/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$dir2/$name"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir2/stage"))
    }
    writeOne("a_w.parquet", 0)
    writeOne("b_w1.parquet", 1)
    writeOne("c_w2.parquet", 2)
    writeOne("d_w3.parquet", 3)
    val stream = StreamingWindows
      .readEventsStream(spark, dir2, Map("maxFilesPerTrigger" -> "1"))
      .withWatermark("ts", "1 second")
    val q = StreamingFunnels.funnelProgress(stream, steps)
      .writeStream.format("memory").queryName("funnel_boundary")
      .outputMode(StreamingFunnels.FunnelOutputMode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    val snaps = spark.table("funnel_boundary")
      .select("steps_completed", "n_buffered")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // batch 3 runs with watermark == W exactly (the watermark lags one
    // batch): the W event must still be buffered — an at-or-below seal
    // would fold it here and (0, 3) would never be emitted. (The timeout
    // wakeups added in r10 legitimately fold W once the watermark PASSES
    // it, possibly before file d arrives, so the old !contains((1, 2))
    // encoding of this invariant no longer distinguishes the bug.)
    assert(snaps.contains((0, 3)), s"boundary event folded early: $snaps")
    // once the watermark has passed W, the event folds to step 1
    assert(snaps.exists(_._1 >= 1), s"sealed fold missing: $snaps")
  }

  test("timeout wakeups drain a user's buffer without new per-key data") {
    // user 1's events all arrive in one early batch and then NEVER again;
    // only a different user's far-future sentinel advances the watermark.
    // Before the r10 event-time-timeout fix, user 1's final steps would
    // stay unpublished forever (state functions only ran for keys with
    // data); with it, the wakeup folds the sealed buffer and emits.
    val dir3 = "/tmp/graft_funnel_timeout"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir3))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir3))
    def writeOne(name: String, rows: Seq[(Long, String, String)]): Unit = {
      import spark.implicits._
      rows.toDF("user_id", "tss", "event_type")
        .select(lit(1L).as("event_id"),
          expr("CAST(tss AS TIMESTAMP_NTZ)").as("ts"),
          col("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir3/stage")
      val f = new java.io.File(s"$dir3/stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(s"$dir3/$name"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir3/stage"))
    }
    writeOne("a_user1.parquet", Seq(
      (1L, "2030-01-01 00:00:00", "view"),
      (1L, "2030-01-01 00:00:01", "click")))
    writeOne("b_sentinel.parquet", Seq(
      (2L, "2030-01-01 01:00:00", "view")))
    val stream = StreamingWindows
      .readEventsStream(spark, dir3, Map("maxFilesPerTrigger" -> "1"))
      .withWatermark("ts", "1 second")
    val q = StreamingFunnels.funnelProgress(stream, steps)
      .writeStream.format("memory").queryName("funnel_timeout")
      .outputMode(StreamingFunnels.FunnelOutputMode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    val u1 = spark.table("funnel_timeout")
      .where(col("user_id") === 1L)
      .agg(max("steps_completed")).head().getInt(0)
    assert(u1 == 2, s"buffer did not drain via timeout: final steps $u1")
  }
}
