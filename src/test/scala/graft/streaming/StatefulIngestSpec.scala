package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** StatefulIngest: N chunk folds ≡ one batch aggregate, chunk-cut
  * independence, new-key arrival mid-stream, NULL drops.
  */
class StatefulIngestSpec extends SparkSpec {

  import spark.implicits._

  private def cleanDirs(dirs: String*): Unit =
    dirs.foreach(graft.sources.AtomicStore.drop(spark, _))

  // user 1 spans all chunks, user 2 appears only in chunk 2, user 3 only
  // in chunk 3; values exercise the micro-quantization
  private def events = Seq(
    (1L, 1L, 10.5), (1L, 2L, 0.25), (2L, 4L, 3.141592),
    (1L, 5L, 100.0), (3L, 7L, 0.0000004), (2L, 8L, 7.75))
    .toDF("user_id", "event_id", "value")

  private def oneShot = events.groupBy(col("user_id").as("key"))
    .agg(count(lit(1)).as("n_events"),
      sum(expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)")).as("sum_micros"))

  test("three ordered folds reproduce the one-shot aggregate bit-for-bit") {
    val store = "/tmp/graft_stateful_ingest_store1"
    cleanDirs(store)
    val want = oneShot.collect().map(_.toSeq).toSet
    Seq(col("event_id") <= 3, col("event_id").between(4, 6),
      col("event_id") >= 7).foreach { cut =>
      StatefulIngest.ingestBatch(events.where(cut), store, "user_id", "value")
    }
    val got = StatefulIngest.snapshot(spark, store)
      .select("key", "n_events", "sum_micros")
      .collect().map(_.toSeq).toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("chunk cuts don't matter: a different split folds to the same state") {
    val a = "/tmp/graft_stateful_ingest_store2a"
    val b = "/tmp/graft_stateful_ingest_store2b"
    cleanDirs(a, b)
    Seq(col("event_id") % 2 === 0, col("event_id") % 2 === 1).foreach { cut =>
      StatefulIngest.ingestBatch(events.where(cut), a, "user_id", "value")
    }
    StatefulIngest.ingestBatch(events, b, "user_id", "value")
    val ga = StatefulIngest.snapshot(spark, a)
      .select("key", "n_events", "sum_micros").collect().map(_.toSeq).toSet
    val gb = StatefulIngest.snapshot(spark, b)
      .select("key", "n_events", "sum_micros").collect().map(_.toSeq).toSet
    assert(ga == gb)
  }

  test("NULL key/value rows drop; untouched keys keep their state") {
    val store = "/tmp/graft_stateful_ingest_store3"
    cleanDirs(store)
    StatefulIngest.ingestBatch(
      Seq((Some(1L), Some(2.0)), (None, Some(9.0)), (Some(2L), None))
        .toDF("user_id", "value"), store, "user_id", "value")
    // chunk 2 touches only key 5; key 1's record must survive unchanged
    StatefulIngest.ingestBatch(
      Seq((5L, 1.5)).toDF("user_id", "value"), store, "user_id", "value")
    val got = StatefulIngest.snapshot(spark, store)
      .select("key", "n_events", "sum_micros")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 2000000L), (5L, 1L, 1500000L)))
  }
}
