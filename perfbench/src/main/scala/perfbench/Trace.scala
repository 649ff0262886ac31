package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The hooks a workload calls at each layer boundary. This base version is
  * the untraced one: every hook only runs its body.
  */
class Trace {
  /** Runs one operation; `id` is unique per operation run. */
  def op[A](id: String)(body: => A): A = body
  /** Gate construction: `RegisteredQuery.run`, before the measured action. */
  def construct[A](body: => A): A = body
  /** The measured action of a gate. */
  def action(df: DataFrame): Array[Row] = df.collect()
  /** One call into a layer, named `<layer>.<call>`. */
  def span[A](name: String)(body: => A): A = body
  /** Adds `n` to a named counter, e.g. the batches of a chunked ingest. */
  def count(name: String, n: Long): Unit = ()
  /** Declares the current operation a file-sink write and the on-disk bytes of its incoming batch. */
  def incoming(bytes: Long): Unit = ()
}

object Trace {
  val untraced = new Trace

  /** Layer of a job, from the first engine frame of its long call site. */
  def classify(site: String): String =
    site.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) if f.startsWith("graft.Tables") => "tables"
      case Some(f) =>
        val parts = f.split('.')
        if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1) else "graft"
      case None => "none"
    }

  val registryPackages: Seq[String] = Seq("operators", "llm", "text", "streaming", "sources", "core")
  val sourceCalls: Seq[String] = Seq("csv.write", "csv.read", "parquet_store.replace",
    "parquet_store.upsert", "lake_merge.merge", "jdbc.replace", "jdbc.upsert", "jdbc.select")
}

/** One timed call into a layer; `parent` is the enclosing span's id, -1 at top level. */
final case class Span(id: Int, parent: Int, name: String, op: String, startNs: Long, endNs: Long) {
  def s: Double = (endNs - startNs) / 1e9
}

/** The traced hooks. Operation identity travels to Spark as a thread-local
  * job property set by this thread, so every job is attributed to the
  * operation that submitted it, with no time-window guessing. Spans are
  * kept in memory and written out by [[writeSpans]]; listener data is
  * folded into per-layer totals by [[layers]] once the bus is drained.
  */
final class Tracer(spark: SparkSession, cores: Int) extends Trace {
  private val sc = spark.sparkContext
  private val OpKey = "perfbench.op"
  private val PhaseKey = "perfbench.phase"

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List(-1)
  private var curOp = ""
  private val counters = mutable.Map[String, Long]().withDefaultValue(0L)
  private val catalyst = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** op id -> (start, end) wall-clock millis, to check job attribution */
  private val windows = mutable.Map[String, (Long, Long)]()
  /** write op id -> bytes of its incoming batch */
  private val writes = mutable.Map[String, Long]()

  private def withProp[A](key: String, value: String)(body: => A): A = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, prev)
  }

  override def op[A](id: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    curOp = id
    try withProp(OpKey, id)(withProp(PhaseKey, "engine")(span("op")(body)))
    finally { windows(id) = (t0, System.currentTimeMillis()); curOp = "" }
  }


  override def construct[A](body: => A): A = withProp(PhaseKey, "construct")(span("registry.run")(body))

  override def action(df: DataFrame): Array[Row] = span("engine.action") {
    val qe = df.queryExecution
    val rows = df.collect()
    qe.tracker.phases.foreach { case (phase, s) =>
      catalyst(phase) += (s.endTimeMs - s.startTimeMs) / 1e3
    }
    rows
  }

  override def span[A](name: String)(body: => A): A = {
    val id = spans.size
    spans += null
    val t0 = System.nanoTime()
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = Span(id, open.head, name, curOp, t0, System.nanoTime())
    }
  }

  override def count(name: String, n: Long): Unit = counters(name) += n
  override def incoming(bytes: Long): Unit = writes(curOp) = bytes

  // ------------------------------------------------------------ listener --

  private final class JobAcc(val op: String, val phase: String, val layer: String,
                             val start: Long) {
    var end = -1L
    var stages, tasks, failures = 0L
    var runMs, waitMs, shuffleRead, shuffleWrite, spill, peakMem = 0L
    var bytesRead, bytesWritten, recordsWritten = 0L
  }
  private val jobs = mutable.Map[Int, JobAcc]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val execSite = mutable.Map[String, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      // jobs that adaptive execution submits from its own threads carry no
      // engine frame; the SQL execution that spawned them does
      val sites = Seq(prop("callSite.long"), e.stageInfos.headOption.map(_.details).getOrElse(""),
        execSite.getOrElse(prop("spark.sql.execution.id"), ""))
      val layer = sites.iterator.map(Trace.classify).find(_ != "none").getOrElse("none")
      jobs(e.jobId) = new JobAcc(prop(OpKey), prop(PhaseKey), layer, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(execSite(x.executionId.toString) = x.details)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.reason != Success) j.failures += 1
        val info = e.taskInfo
        j.waitMs += math.max(0L, info.launchTime - stageSubmit.getOrElse(e.stageId, info.launchTime))
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
          j.bytesRead += m.inputMetrics.bytesRead
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private var gcAtStart = 0L

  /** Starts listening; only jobs submitted from here on are traced. */
  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gcAtStart = gcMs
    sc.addSparkListener(listener)
  }

  /** Waits for the listener bus to deliver the end of every traced job, then stops listening. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    def pending = synchronized(jobs.values.count(_.end < 0))
    var quiet = 0
    while (quiet < 4 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      if (pending == 0) quiet += 1 else quiet = 0
    }
    sc.removeSparkListener(listener)
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    gcS = (gcMs - gcAtStart) / 1e3
  }
  private var heapPeakMb = 0.0
  private var gcS = 0.0

  /** Per-layer totals of the traced region, divided by `passes`. */
  def layers(passes: Int): Seq[(String, Double, String)] = synchronized {
    val n = passes.toDouble
    def spanS(name: String) = spans.iterator.filter(_.name == name).map(_.s).sum
    val timed = jobs.values.filter(_.op.nonEmpty).toSeq
    // a job is attributed when it carries an operation id and started inside that operation
    val unattributed = jobs.values.count { j =>
      windows.get(j.op).forall { case (a, b) => j.start < a || j.start > b }
    }
    def jobS(js: Iterable[JobAcc]) = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
    val tables = timed.filter(_.layer == "tables")
    val registry = timed.filter(j => j.phase == "construct" && j.layer != "tables")
    val engine = timed.filter(_.phase == "engine")
    val sources = timed.filter(_.layer == "sources")
    // a gate op times its action separately; any other op is all action
    val gateOps = spans.iterator.filter(_.name == "engine.action").map(_.op).toSet
    val actionS = spanS("engine.action") +
      spans.iterator.filter(s => s.name == "op" && !gateOps(s.op)).map(_.s).sum
    val taskRunS = engine.map(_.runMs).sum / 1e3
    val writeJobs = timed.filter(j => writes.contains(j.op) && j.layer == "sources")
    val incoming = writes.values.sum
    Seq(
      ("tables.jobs", tables.size / n, "count"),
      ("tables.job_s", jobS(tables) / n, "s"),
      ("registry.run_s", spanS("registry.run") / n, "s"),
      ("registry.jobs", registry.size / n, "count")) ++
    Trace.registryPackages.map(p => (s"registry.jobs.$p", registry.count(_.layer == p) / n, "count")) ++
    Seq("analysis", "optimization", "planning").map(p => (s"catalyst.${p}_s", catalyst(p) / n, "s")) ++
    Seq(
      ("engine.action_s", actionS / n, "s"),
      ("engine.jobs", engine.size / n, "count"),
      ("engine.stages", engine.map(_.stages).sum / n, "count"),
      ("engine.tasks", engine.map(_.tasks).sum / n, "count"),
      ("engine.ms_per_job", if (engine.isEmpty) 0.0 else jobS(engine) * 1e3 / engine.size, "ms"),
      ("engine.task_run_s", taskRunS / n, "s"),
      ("engine.task_wait_s", engine.map(_.waitMs).sum / 1e3 / n, "s"),
      ("engine.utilization", if (actionS > 0) taskRunS / (actionS * cores) else 0.0, "ratio"),
      ("engine.shuffle_read_bytes", engine.map(_.shuffleRead).sum / n, "bytes"),
      ("engine.shuffle_write_bytes", engine.map(_.shuffleWrite).sum / n, "bytes"),
      ("engine.spill_bytes", engine.map(_.spill).sum / n, "bytes"),
      ("engine.peak_task_mem_bytes", engine.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      ("engine.task_failures", timed.map(_.failures).sum / n, "count")) ++
    Trace.sourceCalls.map(c => (s"sources.${c.replace('.', '_')}_s", spanS(s"sources.$c") / n, "s")) ++
    Seq(
      ("sources.jobs", sources.size / n, "count"),
      ("sources.bytes_read", sources.map(_.bytesRead).sum / n, "bytes"),
      ("sources.bytes_written", sources.map(_.bytesWritten).sum / n, "bytes"),
      ("sources.rows_written", sources.map(_.recordsWritten).sum / n, "count"),
      ("sources.write_amp",
        if (incoming > 0) writeJobs.map(_.bytesWritten).sum.toDouble / incoming else 0.0, "ratio"),
      ("pipeline.write_s", spanS("pipeline.write") / n, "s"),
      ("xl.write_s", spanS("xl.write") / n, "s"),
      ("xl.ingest_s", spanS("xl.ingest") / n, "s"),
      ("xl.batches", counters("xl.batches") / n, "count"),
      ("wire.encode_s", spanS("wire.encode") / n, "s"),
      ("wire.decode_s", spanS("wire.decode") / n, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("jvm.gc_s", gcS / n, "s"),
      ("trace.unattributed_jobs", unattributed.toDouble, "count"))
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val lines = spans.iterator.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
