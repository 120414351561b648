package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters, summed over the tasks of the jobs they cover. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var inputRows = 0L
  var output = 0L
}

/** One Spark job as seen by the listener: its submit/end wall times (epoch
  * ms), the span it was submitted under and the call site that launched
  * it. */
final case class JobSpan(id: Int, span: Long, startMs: Long, var endMs: Long,
    site: String)

/** In-memory tracer for the traced run.
  *
  * A layer call is tagged by setting the `perfbench.span` local property on
  * the calling thread; Spark copies local properties to the jobs the call
  * submits (including broadcast and streaming threads started under it), so
  * every job lands on the layer call that caused it. Jobs submitted with no
  * tag while the window is open are attributed to the run span. Counters
  * accumulate per span from task-end events.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  val Prop = "perfbench.span"
  @volatile var windowOpen = false

  val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new ConcurrentHashMap[Long, Counters]()

  def countersOf(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toLong).orElse(if (windowOpen) Some(Tracer.RunSpan) else None)
    tag.foreach { span =>
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      jobs.put(e.jobId, JobSpan(e.jobId, span, e.time, -1L, site))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      val c = countersOf(span)
      c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      val c = countersOf(span)
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def allCounters: Map[Long, Counters] = counters.asScala.toMap
}

object Tracer {
  val RunSpan = 0L
}

/** A closed span: `kind` is run / op / a layer name; times are epoch ms
  * (fractional), taken from one nanoTime origin so they order with the
  * listener's job times. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Span recorder for the client thread. With `tracer` unset every call is
  * a plain timed call: no tag, no span kept. */
final class Spans(sc: SparkContext, tracer: Option[Tracer]) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private var nextId = 1L
  private val stack = mutable.Stack[Long](Tracer.RunSpan)
  val closed = mutable.ArrayBuffer[Span]()

  /** The innermost open span. */
  def current: Long = stack.top

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Time `body`; returns (seconds, result). In traced mode also records a
    * span under the current parent and tags the jobs `body` submits. */
  def timed[T](kind: String, name: String)(body: => T): (Double, T) = {
    val id = nextId; nextId += 1
    val parent = stack.top
    val prevTag = sc.getLocalProperty("perfbench.span")
    if (tracer.isDefined) sc.setLocalProperty("perfbench.span", id.toString)
    stack.push(id)
    val t0 = nowMs
    try {
      val r = body
      ((nowMs - t0) / 1000.0, r)
    } finally {
      val t1 = nowMs
      stack.pop()
      if (tracer.isDefined) {
        sc.setLocalProperty("perfbench.span", prevTag)
        closed += Span(id, parent, kind, name, t0, t1)
      }
    }
  }
}
