package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** HllIngest: N folds ≡ one-shot estimate, replay idempotence, register
  * state stays bucket-bounded.
  */
class HllIngestSpec extends SparkSpec {

  import spark.implicits._

  private def cleanDirs(dirs: String*): Unit =
    dirs.foreach(graft.sources.AtomicStore.drop(spark, _))

  private def docs = (1L to 300L).map(i => (s"g${i % 3}", s"user_$i"))
    .toDF("grp", "uid")

  test("three folds equal the one-shot estimate bit-for-bit") {
    val store = "/tmp/graft_hll_ingest_store1"
    cleanDirs(store)
    val want = graft.operators.HllDistinct.estimate(docs, Seq("grp"), "uid")
      .collect().map(_.toSeq).toSet
    (0 to 2).foreach { k =>
      HllIngest.ingestBatch(
        docs.where(substring(col("uid"), 6, 10).cast("long") % 3 === k),
        store, Seq("grp"), "uid")
    }
    val got = HllIngest.estimate(spark, store, Seq("grp"))
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("replaying a batch is idempotent (max-merge absorbs duplicates)") {
    val store = "/tmp/graft_hll_ingest_store2"
    cleanDirs(store)
    HllIngest.ingestBatch(docs, store, Seq("grp"), "uid")
    val first = HllIngest.estimate(spark, store, Seq("grp"))
      .collect().map(_.toSeq).toSet
    HllIngest.ingestBatch(docs, store, Seq("grp"), "uid") // replay
    val second = HllIngest.estimate(spark, store, Seq("grp"))
      .collect().map(_.toSeq).toSet
    assert(first == second)
  }

  test("state stays within 1024 registers per group regardless of volume") {
    val store = "/tmp/graft_hll_ingest_store3"
    cleanDirs(store)
    val big = (1L to 20000L).map(i => ("g", s"v$i")).toDF("grp", "uid")
    HllIngest.ingestBatch(big, store, Seq("grp"), "uid")
    val n = spark.read.parquet(store).count()
    assert(n <= 1024L, s"register rows $n exceed the bucket bound")
  }
}
