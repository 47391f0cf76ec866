package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Wall clock in epoch microseconds, on the same base as Spark's
  * listener event times (epoch milliseconds). */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One call into a layer: name, start, end and the span that caused it. */
final case class Span(id: Long, name: String, parent: Long, tag: String,
    startUs: Long, endUs: Long)

/** Spans around the benchmark's calls into graft, kept in memory and
  * written when the run ends. While a span is open its id is the
  * SparkContext local property [[Tracer.SpanProperty]], so every job the
  * call launches carries it. Disabled, `span` only runs the body. One
  * client thread opens spans, so the open-span stack is a plain field. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var open = 0L

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open
      open = id
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = Clock.nowUs()
      try body
      finally {
        val end = Clock.nowUs()
        open = parent
        sc.setLocalProperty(Tracer.SpanProperty,
          if (parent == 0L) null else parent.toString)
        done += Span(id, name, parent, tag, start, end)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** What the listener saw of one job: the span and job group it was
  * submitted under, its stages and its first stage's name, which carries
  * the job's call site (`parquet at HelixStore.scala:1101`). */
final case class JobRecord(id: Int, span: String, group: String,
    firstStage: String, stageIds: Seq[Int],
    startMs: Long, var endMs: Long = -1L)

/** Summed task metrics of one stage. */
final class StageRecord(val id: Int) {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
}

/** Records jobs, stages and task metrics for the traced run. Attribution
  * to spans happens after the run (report.py), from the recorded
  * properties. */
final class JobRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  val stages = mutable.LinkedHashMap.empty[Int, StageRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val first = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = JobRecord(e.jobId, prop(Tracer.SpanProperty),
      prop("spark.jobGroup.id"), first,
      e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRecord(e.stageId))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** Minimal JSON writer for the run record (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")

  def span(s: Span): String = obj("id" -> s.id.toString, "name" -> str(s.name),
    "parent" -> s.parent.toString, "tag" -> str(s.tag),
    "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)
  def job(j: JobRecord): String = obj("id" -> j.id.toString,
    "span" -> str(j.span), "group" -> str(j.group),
    "first_stage" -> str(j.firstStage),
    "stages" -> arr(j.stageIds.map(_.toString)),
    "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString)
  def stage(s: StageRecord): String = obj("id" -> s.id.toString,
    "tasks" -> s.tasks.toString, "run_ms" -> s.runMs.toString,
    "gc_ms" -> s.gcMs.toString, "input_bytes" -> s.inputBytes.toString,
    "output_bytes" -> s.outputBytes.toString,
    "shuffle_write_bytes" -> s.shuffleWriteBytes.toString)
}
