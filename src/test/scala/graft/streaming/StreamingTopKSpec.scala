package graft.streaming

import graft.SparkSpec
import graft.functions.TopK
import org.apache.spark.sql.functions._

/** The bounded-buffer TopK aggregator must work unchanged as a STREAMING
  * aggregation (complete mode): same partial-merge contract Spark uses for
  * batch partial aggregation drives the streaming state merge, so the
  * final emission equals the batch aggregate over the same data.
  */
class StreamingTopKSpec extends SparkSpec {

  private val dir = "/tmp/graft_topk_events"

  test("streaming top-k per group equals the batch aggregate") {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))

    val stream = StreamingWindows.readEventsStream(spark, dir)
      .groupBy("event_type")
      .agg(TopK(5)(col("value") * 1000, col("event_id")).as("top"))
    val q = stream.writeStream.format("memory").queryName("topk_stream")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally { q.stop() }

    val got = spark.table("topk_stream")
      .select(col("event_type"), col("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getDouble(0), p.getLong(1))).toSeq).toMap

    val batch = graft.Tables.resolve(spark, sf)("events")
      .groupBy("event_type")
      .agg(TopK(5)(col("value") * 1000, col("event_id")).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getDouble(0), p.getLong(1))).toSeq).toMap

    assert(got.keySet === batch.keySet)
    got.keySet.foreach(k => assert(got(k) === batch(k), s"type $k"))
  }
}
