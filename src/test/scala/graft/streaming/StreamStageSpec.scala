package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, expr, udf}

/** Chunk staging contracts: one ascending chunk per cut on success, and no
  * `__stage_tmp_*` sibling left behind when a cut fails or when an earlier
  * run staged more cuts.
  */
class StreamStageSpec extends SparkSpec {

  private val dir = "/tmp/graft_stream_stage_spec/chunks"
  private lazy val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpDirs: Seq[String] =
    fs.listStatus(new Path(dir).getParent).map(_.getPath.getName)
      .filter(_.startsWith("chunks__stage_tmp_")).toSeq

  private lazy val df = spark.range(0, 100).toDF("k")

  test("a successful staging writes one chunk per cut and clears stale tmp dirs") {
    fs.mkdirs(new Path(dir + "__stage_tmp_9")) // debris of a run with more cuts
    StreamStage.stageChunks(df, Seq(col("k") < 50, col("k") >= 50), dir)
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq == Seq("chunk_00.parquet", "chunk_01.parquet"))
    assert(spark.read.parquet(dir).count() == 100)
    assert(tmpDirs.isEmpty)
  }

  test("a failing cut fails the staging and leaves no tmp dir") {
    // five cuts on a three-thread pool: some siblings run, some still queue
    val cuts = Seq(col("k") < 20, expr("assert_true(k < 0) IS NULL"),
      col("k") >= 20 && col("k") < 40, col("k") >= 40 && col("k") < 60, col("k") >= 60)
    intercept[Exception](StreamStage.stageChunks(df, cuts, dir))
    assert(tmpDirs.isEmpty, s"orphaned tmp dirs: $tmpDirs")
  }

  test("a failing cut returns only after a slow sibling's killed task has ended") {
    import StreamStageSpec._
    // the slow cut's task is mid-row (a killed task only stops at its next
    // row) when the failing cut throws, every run
    val (slow, failing) = (udf(slowRow _), udf(failingRow _))
    val small = spark.range(0, 4).toDF("k")
    intercept[Exception](
      StreamStage.stageChunks(small, Seq(slow(col("k")), failing(col("k"))), dir))
    assert(entered.getCount == 0, "the slow cut never started")
    assert(inFlight.get == 0, "stageChunks returned while a sibling task still ran")
    assert(tmpDirs.isEmpty, s"orphaned tmp dirs: $tmpDirs")
  }
}

object StreamStageSpec {
  private val entered = new java.util.concurrent.CountDownLatch(1)
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger

  /** 300 ms per row that a kill's interrupt does not cut short, like a
    * write blocked in I/O. */
  private def slowRow(k: Long): Boolean = {
    inFlight.incrementAndGet()
    entered.countDown()
    val end = System.nanoTime + 300L * 1000 * 1000
    var interrupted = false
    try {
      while (System.nanoTime < end)
        try Thread.sleep(10) catch { case _: InterruptedException => interrupted = true }
    } finally inFlight.decrementAndGet()
    if (interrupted) Thread.currentThread.interrupt()
    true
  }

  /** Fails once the slow cut is inside a row. */
  private def failingRow(k: Long): Boolean = {
    entered.await(30, java.util.concurrent.TimeUnit.SECONDS)
    throw new IllegalStateException("failing cut")
  }
}
