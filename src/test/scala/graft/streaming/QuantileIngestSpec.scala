package graft.streaming

import graft.SparkSpec
import graft.operators.QuantileStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming quantile-store contract: micro-batch folds through the
  * foreachBatch sink equal one direct per-group aggregation over
  * everything streamed (exact regime — the batch gate defines the
  * semantics; this proves the streaming composition).
  */
class QuantileIngestSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("g", StringType), StructField("v", LongType)))

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

  test("N micro-batches equal one direct per-group quantile aggregation") {
    val rows = (1 to 120).map(i => (s"g${i % 2}", (i * 31 % 97).toLong))
    val batches = rows.grouped(40).map(_.toDF("g", "v")).toSeq
    val srcDir = "/tmp/graft_qingest_src"
    stage(srcDir, batches)

    val store = "/tmp/graft_qingest_store"
    val ckpt = "/tmp/graft_qingest_ckpt"
    graft.sources.AtomicStore.drop(spark, store)
    wipe(ckpt)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = QuantileStore.start(stream, store, Seq("g"), "v", k = 64, ckpt)
    try q.processAllAvailable() finally q.stop()

    val qs = Seq((1L, 2L), (9L, 10L))
    val streamed = QuantileStore.quantiles(QuantileStore.read(spark, store),
        Seq("g"), k = 64, qs, Seq("p50", "p90"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val direct = graft.functions.Quantiles.perGroup(rows.toDF("g", "v"),
        Seq("g"), col("v"), k = 64, qs, Seq("p50", "p90"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(streamed === direct)
  }
}
