package graft.streaming

import graft.SparkSpec
import graft.sources.{AtomicStore, LakeMerge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming lake-merge contracts: micro-batch fold ≡ hand-folded batch
  * merges, replay idempotence, and the within-batch last-writer-wins
  * collapse.
  */
class LakeIngestSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", LongType),
    StructField("v", DoubleType), StructField("p", StringType)))

  private def wipe(dirs: String*): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  private def stage(dir: String, batches: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    wipe(dir)
    new java.io.File(dir).mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$dir/__tmp"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$dir/batch_$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 600000L))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  private def readLake(dir: String): Map[Long, (Long, Double, String)] =
    spark.read.parquet(dir).select("k", "ts", "v", "p").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getString(3))).toMap

  private val b0 = Seq((1L, 1L, 10.0, "a"), (2L, 1L, 20.0, "a"), (3L, 1L, 30.0, "b"))
  private val b1 = Seq((2L, 2L, 21.0, "a"), (4L, 2L, 40.0, "b"))
  private val b2 = Seq((3L, 3L, 31.0, "a"), (5L, 3L, 50.0, "c")) // k=3 moves b→a

  test("N micro-batches equal the batch merge fold over the same data") {
    val batches = Seq(b0, b1, b2).map(_.toDF("k", "ts", "v", "p"))
    val src = "/tmp/graft_lakeingest_src"
    stage(src, batches)

    val streamed = "/tmp/graft_lakeingest_stream"
    AtomicStore.drop(spark, streamed)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = LakeIngest.start(stream, streamed, Seq("k"), Seq("p"), "ts")
    try q.processAllAvailable() finally q.stop()

    val folded = "/tmp/graft_lakeingest_fold"
    AtomicStore.drop(spark, folded)
    batches.foreach(b => LakeMerge.merge(spark, folded, b, Seq("k"), Seq("p")))

    val got = readLake(streamed)
    assert(got == readLake(folded))
    assert(got(3L) == (3L, 31.0, "a"), "partition move applied")
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("replaying a batch is idempotent") {
    val lake = "/tmp/graft_lakeingest_replay"
    AtomicStore.drop(spark, lake)
    LakeIngest.ingestBatch(b0.toDF("k", "ts", "v", "p"), lake, Seq("k"), Seq("p"), "ts")
    LakeIngest.ingestBatch(b1.toDF("k", "ts", "v", "p"), lake, Seq("k"), Seq("p"), "ts")
    val before = readLake(lake)
    LakeIngest.ingestBatch(b1.toDF("k", "ts", "v", "p"), lake, Seq("k"), Seq("p"), "ts")
    assert(readLake(lake) == before)
  }

  test("within-batch duplicate keys collapse to the highest precedence") {
    val lake = "/tmp/graft_lakeingest_lww"
    AtomicStore.drop(spark, lake)
    val dup = Seq((1L, 1L, 10.0, "a"), (1L, 3L, 12.0, "b"), (1L, 2L, 11.0, "a"))
    LakeIngest.ingestBatch(dup.toDF("k", "ts", "v", "p"), lake, Seq("k"), Seq("p"), "ts")
    assert(readLake(lake) == Map(1L -> (3L, 12.0, "b")))
    // the lake holds exactly one physical row for the key
    assert(spark.read.parquet(lake).count() == 1)
  }

  test("collapse tiebreak is total: equal precedence falls to the greatest row") {
    val tied = Seq((1L, 1L, 10.0, "a"), (1L, 1L, 11.0, "a")).toDF("k", "ts", "v", "p")
    val got = LakeIngest.collapse(tied, Seq("k"), "ts").collect()
    assert(got.length == 1 && got(0).getDouble(2) == 11.0)
  }
}
