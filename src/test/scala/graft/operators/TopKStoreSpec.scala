package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Leaderboard-store contracts: fold ≡ direct for any batching,
  * high-water updates, replay no-op, bootstrap.
  */
class TopKStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val d = s"/tmp/graft_topkstore_spec/$name"
    graft.sources.AtomicStore.drop(spark, d)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("g", "rank", "id", "score").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue, r.getLong(2), r.getDouble(3)))
      .toSet

  test("folds equal the direct high-water top-k; updates re-rank") {
    val dir = freshDir("fold")
    val b1 = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0), ("b", 9L, 5.0))
      .toDF("g", "id", "score")
    val b2 = Seq(("a", 1L, 50.0), ("a", 4L, 25.0), ("b", 8L, 7.0))
      .toDF("g", "id", "score")
    TopKStore.update(spark, dir, b1, Seq("g"), col("score"), col("id"), k = 2)
    TopKStore.update(spark, dir, b2, Seq("g"), col("score"), col("id"), k = 2)
    // high-water: id 1 rises to 50 and takes rank 1; id 3 (30) keeps rank 2
    assert(rows(TopKStore.read(spark, dir)) == Set(
      ("a", 1L, 1L, 50.0), ("a", 2L, 3L, 30.0),
      ("b", 1L, 8L, 7.0), ("b", 2L, 9L, 5.0)))
  }

  test("one entity posting two top-k scores in ONE batch takes one slot") {
    val dir = freshDir("intra_batch")
    val b = Seq(("g", 7L, 100.0), ("g", 7L, 90.0), ("g", 8L, 80.0))
      .toDF("g", "id", "score")
    TopKStore.update(spark, dir, b, Seq("g"), col("score"), col("id"), k = 2)
    assert(rows(TopKStore.read(spark, dir)) == Set(
      ("g", 1L, 7L, 100.0), ("g", 2L, 8L, 80.0)))
  }

  test("replaying the same batch is a no-op (idempotent fold)") {
    val dir = freshDir("replay")
    val b = Seq(("g", 1L, 3.0), ("g", 2L, 4.0)).toDF("g", "id", "score")
    TopKStore.update(spark, dir, b, Seq("g"), col("score"), col("id"), k = 5)
    val once = rows(TopKStore.read(spark, dir))
    TopKStore.update(spark, dir, b, Seq("g"), col("score"), col("id"), k = 5)
    assert(rows(TopKStore.read(spark, dir)) == once)
  }

  test("an entity in store and batch never wastes two slots") {
    val dir = freshDir("dedup")
    val b1 = Seq(("g", 1L, 9.0), ("g", 2L, 8.0)).toDF("g", "id", "score")
    val b2 = Seq(("g", 1L, 9.5), ("g", 3L, 8.5)).toDF("g", "id", "score")
    TopKStore.update(spark, dir, b1, Seq("g"), col("score"), col("id"), k = 3)
    TopKStore.update(spark, dir, b2, Seq("g"), col("score"), col("id"), k = 3)
    assert(rows(TopKStore.read(spark, dir)) == Set(
      ("g", 1L, 1L, 9.5), ("g", 2L, 3L, 8.5), ("g", 3L, 2L, 8.0)))
  }
}
