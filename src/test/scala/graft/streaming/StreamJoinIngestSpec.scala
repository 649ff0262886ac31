package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** StreamJoinIngest: chunked state machine ≡ one-shot batch interval
  * join, cross-chunk pairs surface exactly once, watermark eviction
  * bounds the buffer, late rows drop.
  */
class StreamJoinIngestSpec extends SparkSpec {

  import spark.implicits._

  private def cleanDirs(dirs: String*): Unit =
    dirs.foreach(graft.sources.AtomicStore.drop(spark, _))

  private def ts(s: String) = java.time.LocalDateTime.parse(s)

  // left 10 (day 1 23:30) pairs with right 20 (day 2 00:15) ACROSS the
  // day-boundary chunk cut; left 11 pairs in-chunk; left 12 pairs nothing
  private def left = Seq(
    (7L, ts("2024-01-01T23:30:00"), 10L),
    (7L, ts("2024-01-02T10:00:00"), 11L),
    (8L, ts("2024-01-01T12:00:00"), 12L))
    .toDF("k", "t", "id")
  private def right = Seq(
    (7L, ts("2024-01-02T00:15:00"), 20L),
    (7L, ts("2024-01-02T10:30:00"), 21L),
    (8L, ts("2024-01-02T12:00:00"), 22L))
    .toDF("k", "t", "id")

  private def oneShot = left.as("l").join(right.as("r"),
      col("l.k") === col("r.k") &&
        col("r.t") >= col("l.t") - expr("INTERVAL 1 HOUR") &&
        col("r.t") <= col("l.t") + expr("INTERVAL 1 HOUR"))
    .select(col("l.id").as("left_id"), col("r.id").as("right_id"))

  test("chunked folds emit exactly the one-shot join, cross-chunk pairs once") {
    val store = "/tmp/graft_sj_ingest_store1"
    val lake = "/tmp/graft_sj_ingest_lake1"
    cleanDirs(store, lake)
    val want = oneShot.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dayCut = lit(ts("2024-01-02T00:00:00"))
    Seq(col("t") < dayCut, col("t") >= dayCut).foreach { cut =>
      StreamJoinIngest.ingestBatch(
        left.where(cut), right.where(cut), store, lake,
        "k", "t", "id", "k", "t", "id",
        before = "1 HOUR", after = "1 HOUR", lateness = "1 HOUR")
    }
    val got = spark.read.parquet(lake)
      .select("left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want, s"got=$got want=$want")
    assert(got.contains((10L, 20L)), "cross-chunk pair must surface")
    assert(got.count(_ == ((10L, 20L))) == 1, "…exactly once")
  }

  test("watermark eviction bounds the buffer to the pairing horizon") {
    val store = "/tmp/graft_sj_ingest_store2"
    val lake = "/tmp/graft_sj_ingest_lake2"
    cleanDirs(store, lake)
    val dayCut = lit(ts("2024-01-02T00:00:00"))
    Seq(col("t") < dayCut, col("t") >= dayCut).foreach { cut =>
      StreamJoinIngest.ingestBatch(
        left.where(cut), right.where(cut), store, lake,
        "k", "t", "id", "k", "t", "id",
        before = "1 HOUR", after = "1 HOUR", lateness = "1 HOUR")
    }
    // final watermark = max ts (day2 12:00) - 1h lateness = 11:00;
    // retention keeps ts >= 10:00 both sides — rows 10/12/20 are gone
    val buffered = spark.read.parquet(store)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(buffered == Set(11L, 21L, 22L), s"buffered=$buffered")
  }

  test("rows older than the watermark drop as late, never pair") {
    val store = "/tmp/graft_sj_ingest_store3"
    val lake = "/tmp/graft_sj_ingest_lake3"
    cleanDirs(store, lake)
    StreamJoinIngest.ingestBatch(
      left.where(col("id") === 11L), right.where(col("id") === 21L),
      store, lake, "k", "t", "id", "k", "t", "id",
      before = "1 HOUR", after = "1 HOUR", lateness = "1 HOUR")
    // watermark now 10:30 - 1h = 09:30; a left row at 08:00 is late even
    // though a buffered right row (10:30) sits inside its window bound
    StreamJoinIngest.ingestBatch(
      Seq((7L, ts("2024-01-02T08:00:00"), 99L)).toDF("k", "t", "id"),
      right.limit(0), store, lake, "k", "t", "id", "k", "t", "id",
      before = "1 HOUR", after = "4 HOURS", lateness = "1 HOUR")
    val got = spark.read.parquet(lake)
      .select("left_id").collect().map(_.getLong(0)).toSet
    assert(!got.contains(99L), "late row must not pair")
  }
}
