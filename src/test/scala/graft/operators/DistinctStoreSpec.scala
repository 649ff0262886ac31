package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Distinct-count store: fold ≡ one-shot by KMV closure, exact regime,
  * batching independence, k guard, bootstrap/read-back.
  */
class DistinctStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val dir = s"/tmp/graft_distinct_store_spec/$name"
    graft.sources.AtomicStore.drop(spark, dir)
    dir
  }

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def estimates(store: String, k: Int): Map[String, (Double, Long)] =
    DistinctStore.estimate(DistinctStore.read(spark, store), Seq("lang"), k)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap

  test("3-way fold equals the one-shot sketch; exact regime equals count distinct") {
    val threeWay = freshDir("three"); val oneShot = freshDir("one")
    (0 until 3).foreach { b =>
      DistinctStore.update(spark, threeWay,
        docs.where(pmod(col("doc_id"), lit(3)) === b), Seq("lang"), col("text"), k = 512)
    }
    DistinctStore.update(spark, oneShot, docs, Seq("lang"), col("text"), k = 512)
    assert(estimates(threeWay, 512) == estimates(oneShot, 512))
    // k=512 >> per-lang distinct texts: estimates are EXACT counts
    val exact = docs.groupBy("lang").agg(countDistinct("text").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    estimates(threeWay, 512).foreach { case (lang, (est, skSize)) =>
      assert(est == exact(lang).toDouble && skSize == exact(lang),
        s"$lang: exact regime must match count distinct")
    }
  }

  test("fold is batching-independent in the compacting regime too") {
    val a = freshDir("ba"); val b = freshDir("bb")
    (0 until 2).foreach { i =>
      DistinctStore.update(spark, a,
        docs.where(pmod(col("doc_id"), lit(2)) === i), Seq("lang"), col("text"), k = 8)
    }
    (0 until 5).foreach { i =>
      DistinctStore.update(spark, b,
        docs.where(pmod(col("doc_id"), lit(5)) === i), Seq("lang"), col("text"), k = 8)
    }
    // KMV closure: both stores hold the bottom-8 of the SAME hash set
    assert(estimates(a, 8) == estimates(b, 8))
  }

  test("a mismatched k fails loudly instead of silently truncating") {
    val store = freshDir("kguard")
    DistinctStore.update(spark, store, docs, Seq("lang"), col("text"), k = 64)
    val e = intercept[IllegalArgumentException] {
      DistinctStore.update(spark, store, docs, Seq("lang"), col("text"), k = 32)
    }
    assert(e.getMessage.contains("k=64"))
  }

  test("NULL values count as one sentinel distinct value") {
    val store = freshDir("nulls")
    val df = Seq((1L, Some("x")), (2L, None), (3L, None), (4L, Some("y")))
      .toDF("id", "v").withColumn("g", lit("g"))
    DistinctStore.update(spark, store, df, Seq("g"), col("v"), k = 16)
    val est = DistinctStore.estimate(DistinctStore.read(spark, store), Seq("g"), 16)
      .head().getDouble(1)
    assert(est == 3.0, "x, y, and the NULL sentinel")
  }
}
