package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark driver: one closed-loop client thread runs a workload's
  * operations back to back and writes the raw measurements as JSON.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>`
  *
  * Set-up (session start, input generation and staging, two untimed
  * warm-up passes) is timed apart from the measured passes. Passes repeat
  * until `--seconds` have elapsed; an untraced run makes three at least.
  * With `--trace 1`, half the time runs untraced and half traced, so the
  * tracing overhead is measured in the same process.
  */
object Main {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)}"

  /** Progress line in the JVM's log. */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class OpRun(name: String, s: Double, rows: Long, error: Option[String])
  final case class PassRun(wallS: Double, ops: Seq[OpRun])

  /** Runs passes until `seconds` have elapsed and at least `minPasses` ran. */
  private def loop(wl: Workload, trace: Trace, seconds: Double, first: Int,
                   minPasses: Int = 1): Seq[PassRun] = {
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer[PassRun]()
    while (passes.size < minPasses || secs(start) < seconds) {
      val p = first + passes.size
      val t0 = System.nanoTime()
      val ops = wl.pass(p).zipWithIndex.map { case (op, i) =>
        val o0 = System.nanoTime()
        val result =
          try Right(trace.op(s"$p.$i.${op.name}")(op.run(trace)))
          catch { case e: Exception => Left(describe(e)) }
        log(f"pass $p ${op.name} ${secs(o0)}%.3fs ${result.left.getOrElse("")}")
        OpRun(op.name, secs(o0), result.getOrElse(0L), result.left.toOption)
      }
      passes += PassRun(secs(t0), ops)
    }
    passes.toSeq
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val cores = a.getOrElse("cores", "4").toInt

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val wl = Workload(workload, spark, work, seed, cores)
    val sessionS = secs(t0)
    val stageS = (1 to 3).map { _ => val t = System.nanoTime(); wl.stage(); secs(t) }
    // two untimed passes: the first fixes the reference outputs; passes keep
    // getting faster while the JIT compiles, so a second one runs before timing
    val w0 = System.nanoTime()
    val warmFailures = wl.warmUp() ++ loop(wl, Trace.untraced, 0, -1).flatMap(_.ops)
      .flatMap(o => o.error.map(o.name -> _))
    val warmS = secs(w0)

    // three passes at least, so the median pass drops one slowed by the host
    val plain = loop(wl, Trace.untraced, if (traced) seconds / 2 else seconds, 0,
      minPasses = if (traced) 1 else 3)
    val (tracedPasses, layers) =
      if (!traced) (Nil, Nil)
      else {
        val tracer = new Tracer(spark, cores)
        tracer.start()
        val ps = loop(wl, tracer, seconds / 2, plain.size)
        tracer.stop()
        tracer.writeSpans(s"$work/spans.jsonl")
        val overhead = median(ps.map(_.wallS)) - median(plain.map(_.wallS))
        (ps, tracer.layers(ps.size) :+ (("trace.overhead_s", overhead, "s")))
      }

    def passJson(p: PassRun) = Json.obj("wall_s" -> p.wallS, "ops" -> p.ops.map { o =>
      Json.obj("name" -> o.name, "s" -> o.s, "rows" -> o.rows, "error" -> o.error)
    })
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup" -> Json.obj("session_s" -> sessionS, "stage_s" -> stageS, "warmup_s" -> warmS,
        "setup_s" -> (sessionS + median(stageS) + warmS)),
      "warmup_failures" -> warmFailures.map { case (n, e) => Json.obj("name" -> n, "error" -> e) },
      "inputs" -> Json.obj(wl.inputs.toSeq.sortBy(_._1): _*),
      "oracle" -> wl.oracle.map(o => Json.obj("gate" -> o.gate, "out" -> o.out, "sql" -> o.sql)),
      "passes" -> plain.map(passJson),
      "traced_passes" -> tracedPasses.map(passJson),
      "layers" -> layers.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) })
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/result.json"), result.json.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(json: String) { override def toString: String = json }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(json) => json
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case o: Option[_] => o.fold("null")(value)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
