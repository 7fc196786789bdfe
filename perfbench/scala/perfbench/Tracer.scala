package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer's public function. Counters are filled by
  * [[SpanListener]] from the Spark jobs that ran while the span was the
  * innermost open one.
  */
final class Span(val id: Int, val name: String, val parent: Int, val runId: String,
    val start: Long) {
  @volatile var end: Long = -1L
  val layer: String = name.takeWhile(_ != '.')
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunNs, shuffleRead, shuffleWrite, spill, inputBytes, inputRecords = 0L
  def durNs: Long = end - start

  def toMap(pass: Int): Map[String, Any] = Map("run" -> runId, "pass" -> pass, "id" -> id,
    "name" -> name, "parent" -> parent, "start_ns" -> start, "end_ns" -> end, "jobs" -> jobs,
    "stages" -> stages, "tasks" -> tasks, "task_cpu_ns" -> taskCpuNs, "task_run_ns" -> taskRunNs,
    "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite, "spill" -> spill,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "job_ns" -> Tracer.covered(jobIntervals.toSeq, start, end))
}

/** Span recorder. Spans are kept in memory and written out when the run
  * ends. Disabled, `span` is a plain call, so untraced runs pay nothing.
  * Before each call the span id is set as a Spark local property; jobs
  * started from threads that did not inherit it fall back to the innermost
  * span open on the client thread (the benchmark runs one client).
  */
final class Tracer(val enabled: Boolean, runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var current: Span = _
  private var sc: SparkContext = _
  private var listener: SpanListener = _

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new SpanListener(this)
    sc.addSparkListener(listener)
  }

  /** Wait for the listener bus to deliver every event, then detach. */
  def detach(): Unit = if (listener != null) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    listener = null
  }

  def byId(id: Int): Option[Span] = if (id >= 0 && id < spans.size) Some(spans(id)) else None
  def innermost: Option[Span] = Option(current)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = synchronized {
        val sp = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), runId, System.nanoTime())
        spans += sp
        sp
      }
      stack.push(s)
      current = s
      val prev = if (sc != null) sc.getLocalProperty(Tracer.Key) else null
      if (sc != null) sc.setLocalProperty(Tracer.Key, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack.pop()
        current = stack.headOption.orNull
        if (sc != null) sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  def clear(): Unit = synchronized { spans.clear() }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val a = math.max(a0, reach)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; reach = b }
    }
    total
  }

  /** Self time: span time not covered by child spans or by its own jobs. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val kids = children.map(c => (c.start, c.end))
    val busy = covered(kids ++ s.jobIntervals.toSeq, s.start, s.end)
    math.max(0L, s.durNs - busy)
  }
}

/** Attaches job, stage and task counters to the span that started them. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStartNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  // listener timestamps are wall-clock millis; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .flatMap(id => tracer.byId(id.toInt))
      .orElse(tracer.innermost)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      jobSpan.put(e.jobId, s)
      jobStartNs.put(e.jobId, e.time * 1000000L + offsetNs)
      s.synchronized { s.jobs += 1; s.stages += e.stageIds.size }
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { s =>
      val t0: Long = Option(jobStartNs.remove(e.jobId)).map(_.longValue).getOrElse(s.start)
      s.synchronized { s.jobIntervals += ((t0, e.time * 1000000L + offsetNs)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskCpuNs += m.executorCpuTime
          s.taskRunNs += m.executorRunTime * 1000000L
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
}
