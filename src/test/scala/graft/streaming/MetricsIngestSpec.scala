package graft.streaming

import graft.SparkSpec
import graft.operators.IncrementalAgg
import graft.operators.IncrementalAgg._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming metrics contracts: micro-batch folds ≡ one direct aggregate
  * over everything streamed, and the store stays readable (and exact)
  * between batches.
  */
class MetricsIngestSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("src", StringType), StructField("n", LongType),
    StructField("amt", DecimalType(18, 6))))

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

  private def mk(rows: Seq[(String, Long, BigDecimal)]) =
    rows.toDF("src", "n", "amt").select(col("src"), col("n"),
      col("amt").cast("decimal(18,6)").as("amt"))

  private val specs = Seq(Count("cnt"), Sum("amt", "total"), Min("n", "lo"), Max("n", "hi"))

  test("N micro-batches equal one direct aggregate over everything streamed") {
    val batches = Seq(
      Seq(("web", 1L, BigDecimal("1.5")), ("code", 2L, BigDecimal("2.25"))),
      Seq(("web", 3L, BigDecimal("0.125"))),
      Seq(("math", 9L, BigDecimal("4.0")), ("web", 0L, BigDecimal("8.5")))).map(mk)
    val srcDir = "/tmp/graft_metricsingest_src"
    stage(srcDir, batches)

    val store = "/tmp/graft_metricsingest_store"
    val ckpt = "/tmp/graft_metricsingest_ckpt"
    graft.sources.AtomicStore.drop(spark, store)
    wipe(ckpt)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = MetricsIngest.start(stream, store, Seq("src"), specs, ckpt)
    try q.processAllAvailable() finally q.stop()

    val direct = IncrementalAgg.partial(
      batches.reduce(_ unionByName _), Seq("src"), specs)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3), r.getLong(4)))).toMap
    assert(m(IncrementalAgg.read(spark, store)
      .select("src", "cnt", "total", "lo", "hi")) ==
      m(direct.select("src", "cnt", "total", "lo", "hi")))
  }
}
