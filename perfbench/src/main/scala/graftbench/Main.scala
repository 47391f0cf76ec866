package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's client process: one workload, one client thread, a
  * closed loop (the next request is sent when the previous one returns).
  *
  * Usage: graftbench.Main <plan file> <work dir> <record file> <trace 0|1>
  *
  * The plan file is written by run.py from the workload seed: `set`
  * lines carry parameters, `warm` lines untimed requests and `op` lines
  * the timed requests, in order. The record file receives every timed
  * sample with its result, and with tracing on the spans, jobs and stages
  * as well; run.py checks the results and computes the metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Main <plan> <work dir> <record> <trace 0|1>")
    val plan = Plan.read(Paths.get(args(0)))
    val work = Paths.get(args(1))
    val trace = args(3) == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = plan.int("cores")

    val sessionT0 = Clock.nowUs()
    val spark = graft.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyUs = Clock.nowUs()

    val recorder = new JobRecorder
    if (trace) spark.sparkContext.addSparkListener(recorder)
    val run = new Run(spark, new Tracer(spark.sparkContext, trace), plan, work)
    try {
      plan.str("workload") match {
        case "store_serve" => Serve.run(run)
        case "ops_sf001" => Ops.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (trace)
        org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(
          spark.sparkContext, 30000)
      val (jobs, stages) = recorder.synchronized {
        (recorder.jobs.values.toList, recorder.stages.values.toList)
      }
      val record = Json.obj(
        "workload" -> Json.str(plan.str("workload")),
        "jvm_start_ms" -> jvmStartMs.toString,
        "session_start_us" -> sessionT0.toString,
        "session_ready_us" -> sessionReadyUs.toString,
        "loop_start_us" -> run.loopStartUs.toString,
        "loop_end_us" -> run.loopEndUs.toString,
        "counters" -> Json.obj(run.counters.toSeq: _*),
        "samples" -> Json.arr(run.samples),
        "spans" -> Json.arr(run.tracer.spans.map(Json.span)),
        "jobs" -> Json.arr(jobs.map(Json.job)),
        "stages" -> Json.arr(stages.map(Json.stage)))
      Files.writeString(Paths.get(args(2)), record)
    } finally spark.stop()
  }
}

/** Parameters and requests of one run, as written by run.py. */
final class Plan(val params: Map[String, String],
    val warm: IndexedSeq[Array[String]], val ops: IndexedSeq[Array[String]]) {
  def str(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"plan lacks '$k'"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
}

object Plan {
  def read(p: Path): Plan = {
    val params = mutable.LinkedHashMap.empty[String, String]
    val warm = mutable.ArrayBuffer.empty[Array[String]]
    val ops = mutable.ArrayBuffer.empty[Array[String]]
    Files.readAllLines(p).asScala.map(_.trim).filter(_.nonEmpty).foreach { line =>
      val f = line.split("\\s+")
      f(0) match {
        case "set" => params(f(1)) = f.drop(2).mkString(" ")
        case "warm" => warm += f.drop(1)
        case "op" => ops += f.drop(1)
        case _ => throw new IllegalArgumentException(s"bad plan line: $line")
      }
    }
    new Plan(params.toMap, warm.toIndexedSeq, ops.toIndexedSeq)
  }
}

/** Shared state of one run: the session, the tracer, the timed samples
  * and the counters that go into the record. */
final class Run(val spark: SparkSession, val tracer: Tracer, val plan: Plan,
    val work: Path) {
  val samples = mutable.ArrayBuffer.empty[String]
  val counters = mutable.LinkedHashMap.empty[String, String]
  private val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
  var loopStartUs = 0L
  var loopEndUs = 0L

  /** Time `body` as one sample of `op`; `result` renders what the
    * benchmark checks. A thrown exception is recorded as the result
    * and does not stop the run. */
  def sample[T](op: String, tag: String = "")(body: => T)(result: T => String): Unit = {
    val start = Clock.nowUs()
    val out = try result(body) catch {
      case e: Exception => "ERROR " + e.toString.take(300)
    }
    val end = Clock.nowUs()
    samples += Json.obj("op" -> Json.str(op), "tag" -> Json.str(tag),
      "start_us" -> start.toString, "end_us" -> end.toString,
      "result" -> Json.str(out))
    counts(op) += 1
  }

  /** Samples taken so far of `op`. */
  def count(op: String): Int = counts(op)

  /** Run timed requests in plan order, wrapping around, until at least
    * `seconds` have passed and `done` holds. */
  def closedLoop(seconds: Double)(done: => Boolean)(
      request: Array[String] => Unit): Unit = {
    require(plan.ops.nonEmpty, "plan has no requests")
    loopStartUs = Clock.nowUs()
    var i = 0
    def elapsed = (Clock.nowUs() - loopStartUs) / 1e6
    while (elapsed < seconds || !done) {
      request(plan.ops(i % plan.ops.length))
      i += 1
    }
    loopEndUs = Clock.nowUs()
  }
}
