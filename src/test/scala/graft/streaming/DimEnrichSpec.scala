package graft.streaming

import graft.SparkSpec
import graft.operators.Scd2
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming SCD2 enrichment contracts: N micro-batches ≡ one batch
  * temporal join over everything streamed; a dimension fold BETWEEN
  * batches is visible to the next batch while late facts still land on
  * their historical interval.
  */
class DimEnrichSpec extends SparkSpec {

  import spark.implicits._

  private val factSchema = StructType(Seq(
    StructField("fact_id", LongType), StructField("k", LongType),
    StructField("ts", LongType)))

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

  private def changes(rows: Seq[(Long, String, Long, Long)]) =
    rows.toDF("k", "attr", "eff", "seq")

  private def facts(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("fact_id", "k", "ts")

  private def readOut(dir: String): Set[(Long, Long, Long, String)] =
    spark.read.parquet(dir)
      .select("fact_id", "k", "ts", "attr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet

  test("N micro-batches equal one batch temporal join over everything streamed") {
    val store = "/tmp/graft_dimenrich_store"
    val (srcDir, outDir, ckpt) = ("/tmp/graft_dimenrich_src",
      "/tmp/graft_dimenrich_out", "/tmp/graft_dimenrich_ckpt")
    graft.sources.AtomicStore.drop(spark, store)
    wipe(srcDir, outDir, ckpt)

    Scd2.update(spark, store,
      changes(Seq((1L, "a0", 0L, 0L), (1L, "a1", 100L, 1L), (2L, "b0", 50L, 2L))),
      "k", Seq("attr"), "eff", "seq")

    val batches = Seq(
      facts(Seq((10L, 1L, 10L), (11L, 1L, 150L))),
      facts(Seq((12L, 2L, 60L), (13L, 2L, 40L))), // 13: before k=2's first version → drops
      facts(Seq((14L, 3L, 10L), (15L, 1L, 100L)))) // 14: unknown key → drops; 15: boundary
    stage(srcDir, batches)

    val q = DimEnrich.start(
      spark.readStream.schema(factSchema).option("maxFilesPerTrigger", 1).parquet(srcDir),
      store, "k", "ts", outDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    val expected = Scd2.asOfDimension(
        batches.reduce(_ unionByName _), Scd2.read(spark, store), "k", "ts")
      .select("fact_id", "k", "ts", "attr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(readOut(outDir) === expected)
    assert(readOut(outDir).map(_._1) === Set(10L, 11L, 12L, 15L))
    // interval semantics spot-checks: 10 → a0, 11 → a1, boundary 15 → a1
    assert(readOut(outDir).collect { case (10L, _, _, a) => a } === Set("a0"))
    assert(readOut(outDir).collect { case (15L, _, _, a) => a } === Set("a1"))
  }

  test("a dimension fold between batches is visible; late facts stay historical") {
    val store = "/tmp/graft_dimenrich2_store"
    val outDir = "/tmp/graft_dimenrich2_out"
    graft.sources.AtomicStore.drop(spark, store)
    wipe(outDir)

    Scd2.update(spark, store, changes(Seq((1L, "v1", 0L, 0L))),
      "k", Seq("attr"), "eff", "seq")
    DimEnrich.enrichBatch(facts(Seq((20L, 1L, 5L))), store, "k", "ts", outDir)

    // the dimension changes at ts=100 between micro-batches
    Scd2.update(spark, store, changes(Seq((1L, "v2", 100L, 1L))),
      "k", Seq("attr"), "eff", "seq")
    // next batch: a current fact sees v2, a LATE fact (ts=50) still lands
    // on v1's [0, 100) interval — interval semantics, not latest-wins
    DimEnrich.enrichBatch(facts(Seq((21L, 1L, 150L), (22L, 1L, 50L))),
      store, "k", "ts", outDir)

    assert(readOut(outDir) === Set(
      (20L, 1L, 5L, "v1"), (21L, 1L, 150L, "v2"), (22L, 1L, 50L, "v1")))
  }
}
