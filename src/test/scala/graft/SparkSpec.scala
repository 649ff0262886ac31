package graft

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

  /** Spark jobs `body` submits from this thread or threads it spawns,
    * counted once a [[Harness.drainListenerBus]] has closed the stream.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(SparkSpec.Marker) == id)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(SparkSpec.Marker, id)
      try body finally sc.setLocalProperty(SparkSpec.Marker, null)
      Harness.drainListenerBus(spark)
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
