package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stream-stream interval join must produce exactly the batch join pairs
  * over the same bounded file, and the plan must carry watermarks on both
  * sides (the state-eviction contract).
  */
class StreamingJoinsSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = java.nio.file.Paths.get("/tmp/graft_stream_join_events")
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    dir.toString
  }

  private def purchases(df: org.apache.spark.sql.DataFrame) =
    df.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
  private def clicks(df: org.apache.spark.sql.DataFrame) =
    df.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))

  test("stream-stream interval join equals the batch join on a bounded file") {
    val src = StreamingWindows.readEventsStream(spark, streamDir)
    val joined = StreamingJoins.intervalJoin(
      purchases(src), clicks(src),
      keyCol = "user_id", tsCol = "ts", rightKeyCol = "c_user", rightTsCol = "c_ts")
      .select("purchase_id", "click_id")
    val q = joined.writeStream.format("memory").queryName("ss_join").outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table("ss_join").orderBy("purchase_id", "click_id").collect()

    val batch = graft.Tables.resolve(spark, sf)("events")
      .withColumn("ts", col("ts").cast("timestamp"))
    val expect = purchases(batch).join(clicks(batch),
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"))
      .select("purchase_id", "click_id").orderBy("purchase_id", "click_id").collect()

    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (g, e) => assert(g == e) }
  }

  test("both sides carry watermarks in the plan") {
    val src = StreamingWindows.readEventsStream(spark, streamDir)
    val joined = StreamingJoins.intervalJoin(
      purchases(src), clicks(src),
      keyCol = "user_id", tsCol = "ts", rightKeyCol = "c_user", rightTsCol = "c_ts")
    val plan = joined.queryExecution.analyzed.toString
    assert("EventTimeWatermark".r.findAllIn(plan).size == 2, plan.take(800))
  }
}
