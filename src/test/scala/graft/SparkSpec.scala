package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (Test/fork=true
  * gives the suite its own JVM); small shuffle partition count keeps unit
  * tests fast while production defaults stay in the entry points.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs `body` submits from this thread or threads it spawns. The
    * listener bus is asynchronous, so a sentinel job submitted after `body`
    * closes the count: the bus delivers in order, so once the sentinel's
    * start has arrived every job of `body` has been seen.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(SparkSpec.Marker)).orNull match {
          case `id` => jobs.incrementAndGet()
          case s if s == id + ".sentinel" => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(SparkSpec.Marker, id)
      try body finally sc.setLocalProperty(SparkSpec.Marker, null)
      sc.setLocalProperty(SparkSpec.Marker, id + ".sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SparkSpec.Marker, null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val Marker = "graft.sparkSpec.op"

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // pin ANSI overflow-raising for the exact-arithmetic paths
      // (rationale in Harness.scala)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
