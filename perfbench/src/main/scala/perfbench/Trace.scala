package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Spark work attributed to one span: the tasks of every job submitted
  * while the span was the innermost open one. */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, gcMs, schedMs = 0L
  var inputBytes, inputRecords, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var outputBytes, outputRecords = 0L
  /** (result-stage name, start ms, end ms) per finished job. */
  val jobTimes = mutable.ArrayBuffer.empty[(String, Long, Long)]
}

final class Span(val id: Int, val name: String, val parent: Int,
    val phase: String, val start: Long) {
  var end: Long = -1L
  val work = new Work
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder for the traced run. Each span sets its own Spark job
  * group, so the listener attributes jobs, bytes and task time to the
  * span that caused them. Spans stay in memory and are written out at
  * the end. A disabled tracer only runs the body. */
final class Tracer(val enabled: Boolean, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val groups = new ConcurrentHashMap[String, Span]()
  private var sc: SparkContext = _
  private var listener: SpanListener = _
  var phase = "setup"

  // span times are nanoTime; listener times are wall-clock milliseconds
  private val nanoAtEpochMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + nanoAtEpochMs

  /** Attribute the jobs of this SparkContext to spans. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new SpanListener(groups)
    sc.addSparkListener(listener)
  }

  def open(name: String): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      phase, System.nanoTime())
    if (enabled) {
      spans += s
      stack = s :: stack
      val g = s"$run-${s.id}"
      groups.put(g, s)
      sc.setJobGroup(g, name)
    }
    s
  }

  def close(s: Span): Unit = {
    s.end = System.nanoTime()
    if (enabled) {
      stack = stack.dropWhile(_ ne s).drop(1)
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"$run-${p.id}", p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  /** Wait until the listener has seen the end of every job it saw start
    * and no event arrived for a while: listener events are delivered
    * asynchronously, after the action that caused them returned. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 20000000000L
    var seen = -1L
    while (System.nanoTime() < deadline &&
        (seen != listener.events.get || listener.openJobs.get > 0)) {
      seen = listener.events.get
      Thread.sleep(250)
    }
  }

  /** Record a span whose bounds were found after the fact. */
  def synthetic(name: String, parent: Span, start: Long, end: Long): Unit =
    if (enabled) {
      val s = new Span(spans.size, name, parent.id, parent.phase, start)
      s.end = end
      spans += s
    }

  def all: Seq[Span] = spans.toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** The span's duration less the time its children cover (children of
    * one span run one after another on the calling thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s).map(_.seconds).sum

  /** The spans as JSON lines, with self time. */
  def json: String = spans.map { s =>
    val w = s.work
    Json.obj(
      "run" -> Json.str(run), "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "phase" -> Json.str(s.phase),
      "start_s" -> Json.num((s.start - spans.head.start) / 1e9),
      "end_s" -> Json.num((s.end - spans.head.start) / 1e9),
      "self_s" -> Json.num(selfSeconds(s)),
      "jobs" -> w.jobs.toString, "stages" -> w.stages.toString,
      "tasks" -> w.tasks.toString, "failed_tasks" -> w.failedTasks.toString,
      "task_s" -> Json.num(w.runMs / 1e3), "gc_s" -> Json.num(w.gcMs / 1e3),
      "input_bytes" -> w.inputBytes.toString,
      "input_records" -> w.inputRecords.toString,
      "shuffle_read_bytes" -> w.shuffleReadBytes.toString,
      "shuffle_write_bytes" -> w.shuffleWriteBytes.toString,
      "spill_bytes" -> w.spillBytes.toString,
      "output_bytes" -> w.outputBytes.toString)
  }.mkString("", "\n", "\n")
}

/** Sums task metrics per span, keyed by the job group the span set.
  * Public listener events only. */
final class SpanListener(groups: ConcurrentHashMap[String, Span]) extends SparkListener {
  val events = new AtomicLong
  val openJobs = new AtomicLong
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, String, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(g => Option(groups.get(g))).foreach { s =>
      e.stageIds.foreach(stageSpan.putIfAbsent(_, s))
      val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobSpan.put(e.jobId, (s, name, e.time))
      openJobs.incrementAndGet()
      s.work.synchronized(s.work.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobSpan.remove(e.jobId)).foreach { case (s, name, t0) =>
      s.work.synchronized(s.work.jobTimes += ((name, t0, e.time)))
      openJobs.decrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      s.work.synchronized(s.work.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val w = s.work
      val i = e.taskInfo
      w.synchronized {
        w.tasks += 1
        if (!i.successful) w.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRecords += m.inputMetrics.recordsRead
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.outputBytes += m.outputMetrics.bytesWritten
          w.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
