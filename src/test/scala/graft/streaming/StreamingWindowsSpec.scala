package graft.streaming

import graft.SparkSpec
import graft.llm.EventWindows

/** Streaming windowed aggregation vs its batch twin over the same events
  * file. Complete mode must equal the batch result exactly; append mode
  * emits only watermark-finalized windows (a subset).
  */
class StreamingWindowsSpec extends SparkSpec {

  // file stream source needs a directory; stage the single parquet file
  private lazy val streamDir: String = {
    val dir = java.nio.file.Paths.get("/tmp/graft_stream_events")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    dir.toString
  }

  private def runStream(mode: String, name: String): Array[org.apache.spark.sql.Row] = {
    val stream = StreamingWindows.tumbling(
      StreamingWindows.readEventsStream(spark, streamDir))
    val q = stream.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .start()
    try { q.processAllAvailable() } finally { q.stop() }
    // stream runs on instant timestamps (watermark requirement); batch is
    // NTZ — under the UTC test session the cast is the identity
    spark.table(name)
      .select(org.apache.spark.sql.functions.col("w_start").cast("timestamp_ntz").as("w_start"),
        org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("n_events"),
        org.apache.spark.sql.functions.col("sum_value"))
      .orderBy("w_start", "event_type").collect()
  }

  private lazy val batch =
    EventWindows.tumbling(graft.Tables.resolve(spark, sf)("events"))
      .orderBy("w_start", "event_type").collect()

  test("complete mode equals the batch aggregation") {
    val got = runStream("complete", "sw_complete")
    assert(got.length == batch.length)
    got.zip(batch).foreach { case (g, b) => assert(g == b) }
  }

  test("streaming exact dedup drops repeated payloads, fingerprint state only") {
    import org.apache.spark.sql.functions._
    // props repeats across events → a natural duplicate-heavy payload column
    val stream = StreamingWindows.dedupExactStream(
      StreamingWindows.readEventsStream(spark, streamDir), textCol = "props")
    val q = stream.writeStream.format("memory").queryName("sw_dedup").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("sw_dedup")
    val batchDistinct = graft.Tables.resolve(spark, sf)("events")
      .select(countDistinct(col("props"))).head().getLong(0)
    assert(got.count() == batchDistinct)
    assert(!got.columns.contains("__fp"))
  }

  test("watermarked streaming dedup (dropDuplicatesWithinWatermark) runs and dedups") {
    val stream = StreamingWindows.dedupExactStream(
      StreamingWindows.readEventsStream(spark, streamDir),
      textCol = "props", tsCol = Some("ts"), lateness = "10 days")
    val q = stream.writeStream.format("memory").queryName("sw_dedup_wm").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val batchDistinct = graft.Tables.resolve(spark, sf)("events")
      .select(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("props"))).head().getLong(0)
    // lateness covers the whole (bounded) file → exact distinct count
    assert(spark.table("sw_dedup_wm").count() == batchDistinct)
  }

  test("append mode emits only watermark-finalized windows, all correct") {
    val got = runStream("append", "sw_append")
    val byKey = batch.map(r => (r.get(0), r.getString(1)) -> r).toMap
    assert(got.nonEmpty && got.length < batch.length)
    got.foreach { g => assert(byKey((g.get(0), g.getString(1))) == g) }
  }

  test("streaming hopping windows (complete mode) equal the batch hopping aggregation") {
    import org.apache.spark.sql.functions.col
    val stream = StreamingWindows.hopping(
      StreamingWindows.readEventsStream(spark, streamDir))
    val q = stream.writeStream.format("memory").queryName("sw_hopping")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("sw_hopping")
      .select(col("w_start").cast("timestamp_ntz").as("w_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("w_start", "event_type").collect()
    val batchHop = EventWindows.hopping(
        graft.Tables.resolve(spark, sf)("events"))
      .orderBy("w_start", "event_type").collect()
    assert(got.length == batchHop.length && got.nonEmpty)
    got.zip(batchHop).foreach { case (g, b) => assert(g == b) }
  }

  test("streaming session windows (complete mode) equal the batch sessionization") {
    import org.apache.spark.sql.functions.col
    val stream = StreamingWindows.sessionized(
      StreamingWindows.readEventsStream(spark, streamDir))
    val q = stream.writeStream.format("memory").queryName("sw_sessions")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("sw_sessions")
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start").collect()
    val batchSessions = EventWindows.sessionized(
        graft.Tables.resolve(spark, sf)("events"))
      .orderBy("user_id", "session_start").collect()
    assert(got.length == batchSessions.length)
    got.zip(batchSessions).foreach { case (g, b) => assert(g == b) }
  }
}
