package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucket ingest: N-fold ≡ one-shot replay, cross-batch level carry,
  * keys absent from a batch keep state, the order and duplicate
  * raises.
  */
class BucketIngestSpec extends SparkSpec {

  import spark.implicits._

  private def freshDirs(tag: String): (String, String) = {
    val store = s"/tmp/graft_bucket_ingest_spec_${tag}_store"
    val lake = s"/tmp/graft_bucket_ingest_spec_${tag}_lake"
    Seq(store, lake).foreach(graft.sources.AtomicStore.drop(spark, _))
    (store, lake)
  }

  private def ev(rows: (String, Long, Long)*) =
    rows.toDF("key", "i", "id")

  test("two folds emit bit-for-bit the one-shot replay") {
    val (store, lake) = freshDirs("equiv")
    val all = ev(("k", 0L, 1L), ("k", 2L, 2L), ("k", 5L, 3L), ("k", 19L, 4L),
      ("m", 0L, 5L), ("m", 1L, 6L))
    BucketIngest.ingestBatch(all.where(col("i") < 5L), store, lake,
      "key", "i", "id", 1, 10, 2)
    BucketIngest.ingestBatch(all.where(col("i") >= 5L), store, lake,
      "key", "i", "id", 1, 10, 2)
    val got = spark.read.parquet(lake)
      .orderBy("key", "idx", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(3), r.getLong(4)))
    val oneShot = graft.operators.TokenBucket.replay(all, "key", "i", "id",
        1, 10, 2)
      .orderBy("key", "idx", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(3), r.getLong(4)))
    assert(got.toSeq == oneShot.toSeq)
  }

  test("a key absent from a batch keeps its stored state") {
    val (store, lake) = freshDirs("carry")
    BucketIngest.ingestBatch(ev(("k", 0L, 1L), ("m", 0L, 2L)), store, lake,
      "key", "i", "id", 1, 10, 1)
    BucketIngest.ingestBatch(ev(("m", 1L, 3L)), store, lake,
      "key", "i", "id", 1, 10, 1)
    // k's state must survive batch 2: an event at i=5 refills 5 of 10
    BucketIngest.ingestBatch(ev(("k", 5L, 4L)), store, lake,
      "key", "i", "id", 1, 10, 1)
    val k = spark.read.parquet(lake).where(col("key") === "k")
      .orderBy("idx").collect().map(r => (r.getBoolean(3), r.getLong(4)))
    assert(k.toSeq == Seq((true, 0L), (false, 5L)))
  }

  test("an event at or below the high-water raises; in-batch dup raises") {
    val (store, lake) = freshDirs("order")
    BucketIngest.ingestBatch(ev(("k", 5L, 10L)), store, lake,
      "key", "i", "id", 1, 10, 1)
    val e = intercept[Exception] {
      BucketIngest.ingestBatch(ev(("k", 5L, 9L)), store, lake,
        "key", "i", "id", 1, 10, 1)
    }
    assert(e.getMessage.contains("high-water"))
    val (store2, lake2) = freshDirs("dup")
    val e2 = intercept[Exception] {
      BucketIngest.ingestBatch(ev(("k", 1L, 7L), ("k", 2L, 7L)),
        store2, lake2, "key", "i", "id", 1, 10, 1)
    }
    assert(e2.getMessage.contains("duplicate id"))
  }
}
