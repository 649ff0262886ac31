package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming form of the event-window aggregation — the same
  * `window()` expression as [[graft.llm.EventWindows.tumbling]], so batch and
  * stream share one semantics (SURVEY §2.9: the reference's "streaming" is
  * chunked batch; this is the true-streaming extension with watermarks).
  *
  * Scale notes: stateful aggregation state is keyed by (window, event_type)
  * — bounded by the watermark horizon, so state size is
  * O(types × windows-in-horizon) regardless of input rate; the shuffle is
  * the same hash partitioning a batch groupBy would do.
  */
object StreamingWindows {

  /** File-source stream over an events parquet path, read against the
    * declared events schema ([[graft.Tables]]: `ts` is micros
    * TIMESTAMP_NTZ), so an empty or not-yet-populated directory starts
    * cleanly and waits for files. Unlike the batch table `ts` ends on
    * instant (with-timezone) semantics — Spark watermarks require
    * TIMESTAMP, not TIMESTAMP_NTZ. Under a UTC session the wall-clock
    * values coincide.
    */
  def readEventsStream(spark: SparkSession, path: String,
                       options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(graft.Tables.schema("events")).options(options).parquet(path)
      .withColumn("ts", col("ts").cast(TimestampType))

  /** Streaming exact dedup: drop payloads already seen, keyed by the 60-bit
    * content fingerprint (state stores an 8-byte key, never the payload —
    * the same never-shuffle-raw-text rule as batch [[graft.llm.Dedup]]).
    * With an event-time column + watermark the key state is evicted once the
    * watermark passes, bounding state for unbounded streams; without a
    * watermark state grows with distinct keys (documented Spark behavior).
    */
  def dedupExactStream(events: DataFrame, textCol: String,
                       tsCol: Option[String] = None, lateness: String = "1 hour"): DataFrame = {
    val keyed = events.withColumn("__fp", graft.text.TextFunctions.fingerprint(col(textCol)))
    tsCol match {
      case Some(ts) => keyed.withWatermark(ts, lateness)
        .dropDuplicatesWithinWatermark("__fp").drop("__fp")
      case None     => keyed.dropDuplicates("__fp").drop("__fp")
    }
  }

  /** Watermarked tumbling-window count + sum. With `append` output mode only
    * windows finalized by the watermark emit (late data beyond `lateness` is
    * dropped); with `complete` it behaves like the batch aggregation.
    */
  def tumbling(events: DataFrame, duration: String = "1 hour", lateness: String = "2 hours",
               tsCol: String = "ts", typeCol: String = "event_type",
               valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), duration).as("w"), col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("w_start"), col(typeCol), col("n_events"), col("sum_value"))

  /** Watermarked hopping (sliding) windows — the same `window(size, slide)`
    * expression as [[graft.llm.EventWindows.hopping]], so the batch gate is
    * the streaming oracle. State is keyed by (window, type) like tumbling,
    * ×(size/slide) windows in the horizon — still bounded by the watermark,
    * independent of input rate.
    */
  def hopping(events: DataFrame, size: String = "2 hours", slide: String = "1 hour",
              lateness: String = "2 hours", tsCol: String = "ts",
              typeCol: String = "event_type", valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), size, slide).as("w"), col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("w_start"), col(typeCol), col("n_events"), col("sum_value"))

  /** Watermarked per-user session windows — the same `session_window`
    * expression as [[graft.llm.EventWindows.sessionized]], so the batch gate
    * query is the oracle for the streaming path. Session state merges
    * in-flight windows per key and is finalized (append mode) once the
    * watermark passes a session's end; state is O(open sessions), bounded by
    * the watermark horizon, never by stream length.
    */
  def sessionized(events: DataFrame, gap: String = "2 hours", lateness: String = "2 hours",
                  keyCol: String = "user_id", tsCol: String = "ts",
                  valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col(keyCol), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
}
