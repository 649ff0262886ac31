package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration of the harness and tool mains (Bench,
  * Verify, Profile, ScaleUp, Reshard), so the plans they verify, bench and
  * profile are the same plans, and the one listener-bus drain that closes
  * their per-gate job and task counts.
  */
object Harness {

  /** Local property carried by a [[drainListenerBus]] sentinel job. */
  private val DrainProperty = "graft.harness.drain"

  /** Does a job with these start properties belong to a drain? Listeners
    * that count jobs skip it. */
  def isDrain(jobProperties: java.util.Properties): Boolean =
    jobProperties != null && jobProperties.getProperty(DrainProperty) != null

  /** Block until the listener bus has delivered every event of the jobs
    * submitted before the call. The bus is asynchronous but delivers in
    * order, so a one-task sentinel job closes the stream: once its end
    * event has arrived, every earlier job's and task's events have too.
    */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val ended = new CountDownLatch(1)
    @volatile var sentinel = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(DrainProperty) == token))
          sentinel = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) ended.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(DrainProperty, token)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DrainProperty, null)
      if (!ended.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("the listener bus never delivered the drain job")
    } finally sc.removeSparkListener(listener)
  }

  /** Core count from `SPARK_GRAFT_CPUS` (default 4). */
  def cpus: Int = parseCpus(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  /** Fails fast on anything but a positive integer: the value becomes
    * `local[n]`, the shuffle partition count and Bench's JSON `"cpus"`
    * number, and `*` (a valid Spark master) would break that JSON line.
    */
  private[graft] def parseCpus(raw: String): Int =
    raw.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))

  def session(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toLong)
      // AQE coalescing targets shuffle BYTES (default 1 MB minimum per
      // partition), which serializes compute-dense, byte-light reduce
      // stages (pair similarity, set intersection) onto a handful of
      // tasks at small inputs. A 256 KB floor keeps such stages at
      // near-full parallelism; at scale partitions dwarf 256 KB so the
      // knob is inert — coalescing behaves exactly as before. 256 KB (not
      // lower): per-task constants of sort-merge stages bite below it on
      // tiny-shuffle graph joins — empirically the best whole-suite point.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      // the exact-arithmetic paths (ExactSum limb sums, long products)
      // rely on ANSI mode RAISING on overflow rather than wrapping; it is
      // the Spark 4.x default, but pin it so a deployment that flips the
      // default cannot silently convert loud failure into corrupt sums
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
