package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** mapGroupsWithState running totals: the LAST emission per key must equal
  * the batch groupBy aggregation over the same file, and per-key state must
  * survive across micro-batches (second file arrival updates, not resets).
  */
class StatefulOpsSpec extends SparkSpec {

  private val dir = "/tmp/graft_stateful_events"

  private def stage(copies: Int): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    (1 to copies).foreach { i =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events_$i.parquet"))
    }
  }

  test("final snapshots equal the batch aggregation") {
    stage(copies = 1)
    val stream = StatefulOps.runningTotals(
      StreamingWindows.readEventsStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("st_totals")
      .outputMode(StatefulOps.RunningTotalsOutputMode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    // last emission per key = the one with the max nEvents
    val got = spark.table("st_totals")
      .groupBy("key").agg(max(struct(col("nEvents"), col("sumValue"))).as("s"))
      .select(col("key"), col("s.nEvents").as("n"), col("s.sumValue").as("sum"))
      .orderBy("key").collect()
    val expect = graft.Tables.resolve(spark, sf)("events")
      .groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("n"),
        (sum(expr("CAST(round(value * 1e6) AS BIGINT)")) / 1e6).as("sum"))
      .orderBy("key").collect()
    assert(got.length == expect.length)
    got.zip(expect).foreach { case (g, e) => assert(g == e) }
  }

  test("state accumulates across files (doubled input doubles the counters)") {
    stage(copies = 2)
    val stream = StatefulOps.runningTotals(
      StreamingWindows.readEventsStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("st_totals2")
      .outputMode(StatefulOps.RunningTotalsOutputMode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    val gotN = spark.table("st_totals2")
      .groupBy("key").agg(max("nEvents").as("n"))
      .agg(sum("n")).head().getLong(0)
    val batchN = graft.Tables.resolve(spark, sf)("events").count()
    assert(gotN == 2 * batchN)
  }
}
