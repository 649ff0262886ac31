package graft.tools

/** Ad-hoc per-query profiler: run one registry gate N times against a
  * dataset dir, print wall times and the formatted plan — the iterate
  * loop behind bench-outlier hunts (`sbt "runMain graft.tools.Profile
  * q_name /root/testdata/sf0.1 3 [plan]"`).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val showPlan = args.length > 3 && args(3) == "plan"
    val spark = graft.Harness.session("graft-profile")
    val q = graft.Registry.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int)]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.add((si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.taskMetrics.executorRunTime, si.numTasks))
      }
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    (1 to reps).foreach { i =>
      stages.clear(); jobs.set(0)
      val t0 = System.nanoTime()
      val df = q.run(spark, dir)
      val n = df.count()
      println(f"[profile] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n jobs=${jobs.get()}")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (id, wall, run, nt) =>
        println(f"[profile]   stage$id: wall=${wall / 1e3}%.2fs taskRun=${run / 1e3}%.2fs tasks=$nt")
      }
    }
    if (showPlan) q.run(spark, dir).explain("formatted")
    spark.stop()
  }
}
