package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Session ingest: chunked folds + flush ≡ one-shot gaps-and-islands,
  * cross-batch bridging, mid-batch closes, absent keys keep state,
  * the event-time order raise.
  */
class SessionIngestSpec extends SparkSpec {

  import spark.implicits._

  private val Gap = 1000L // micros

  private def freshDirs(tag: String): (String, String) = {
    val store = s"/tmp/graft_session_ingest_spec_${tag}_store"
    val lake = s"/tmp/graft_session_ingest_spec_${tag}_lake"
    Seq(store, lake).foreach(graft.sources.AtomicStore.drop(spark, _))
    (store, lake)
  }

  private def evUs(rows: (String, Long, Long)*) =
    rows.toDF("k", "us", "v")
      .select(col("k"), expr("timestamp_micros(us)").as("ts"), col("v"))

  private def sessions(lake: String) =
    spark.read.parquet(lake).orderBy("k", "session_start").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq

  test("chunked folds plus flush reproduce the one-shot sessionization") {
    val (store, lake) = freshDirs("equiv")
    val all = Seq(("a", 100L, 1L), ("a", 500L, 2L), ("a", 2000L, 3L),
      ("a", 2500L, 4L), ("b", 100L, 5L), ("b", 5000L, 6L))
    def chunk(lo: Long, hi: Long) =
      evUs(all.filter(e => e._2 >= lo && e._2 < hi): _*)
    SessionIngest.ingestBatch(chunk(0L, 600L), store, lake,
      "k", "ts", "v", Gap)
    SessionIngest.ingestBatch(chunk(600L, 2400L), store, lake,
      "k", "ts", "v", Gap)
    SessionIngest.ingestBatch(chunk(2400L, 10000L), store, lake,
      "k", "ts", "v", Gap)
    SessionIngest.flush(spark, store, lake, "k", Gap)
    // a: [100,500] then [2000,2500]; b: [100] then [5000]
    assert(sessions(lake) == Seq(
      ("a", 100L, 1500L, 2L, 3L), ("a", 2000L, 3500L, 2L, 7L),
      ("b", 100L, 1100L, 1L, 5L), ("b", 5000L, 6000L, 1L, 6L)))
  }

  test("a session bridging two batches stays one session") {
    val (store, lake) = freshDirs("bridge")
    SessionIngest.ingestBatch(evUs(("a", 100L, 1L)), store, lake,
      "k", "ts", "v", Gap)
    SessionIngest.ingestBatch(evUs(("a", 900L, 2L)), store, lake,
      "k", "ts", "v", Gap) // 800 < gap: bridges
    SessionIngest.flush(spark, store, lake, "k", Gap)
    assert(sessions(lake) == Seq(("a", 100L, 1900L, 2L, 3L)))
  }

  test("a non-bridging stored open closes when the key reappears") {
    val (store, lake) = freshDirs("close")
    SessionIngest.ingestBatch(evUs(("a", 100L, 1L)), store, lake,
      "k", "ts", "v", Gap)
    SessionIngest.ingestBatch(evUs(("a", 5000L, 2L)), store, lake,
      "k", "ts", "v", Gap)
    // first session closed by batch 2, second still open
    assert(sessions(lake) == Seq(("a", 100L, 1100L, 1L, 1L)))
    SessionIngest.flush(spark, store, lake, "k", Gap)
    assert(sessions(lake).length == 2)
  }

  test("keys absent from a batch keep their open session") {
    val (store, lake) = freshDirs("carry")
    SessionIngest.ingestBatch(evUs(("a", 100L, 1L), ("b", 100L, 2L)),
      store, lake, "k", "ts", "v", Gap)
    SessionIngest.ingestBatch(evUs(("b", 600L, 3L)), store, lake,
      "k", "ts", "v", Gap)
    SessionIngest.flush(spark, store, lake, "k", Gap)
    val got = sessions(lake)
    assert(got.contains(("a", 100L, 1100L, 1L, 1L)))
    assert(got.contains(("b", 100L, 1600L, 2L, 5L)))
  }

  test("an event at or before the stored last event raises") {
    val (store, lake) = freshDirs("order")
    SessionIngest.ingestBatch(evUs(("a", 500L, 1L)), store, lake,
      "k", "ts", "v", Gap)
    val e = intercept[Exception] {
      SessionIngest.ingestBatch(evUs(("a", 500L, 2L)), store, lake,
        "k", "ts", "v", Gap)
    }
    assert(e.getMessage.contains("event-time order"))
  }
}
