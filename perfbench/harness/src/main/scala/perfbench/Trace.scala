package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed region around a call into an engine layer. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark runtime counters of the jobs one span launched. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var inputRecords = 0L
  /** task durations (ms) per stage, for straggler ratios */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
    inputRecords += o.inputRecords
    o.stageTaskMs.foreach { case (s, ts) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }
}

/** Attributes every job, stage and task to the span that was open on
  * the submitting thread (a Spark local property). Lives only in the
  * benchmark; the engine knows nothing of it.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counters = mutable.Map.empty[String, SparkCounters]
  private var jobsStarted = 0L
  private var jobsEnded = 0L

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse("untraced")

  private def acc(span: String): SparkCounters =
    counters.getOrElseUpdate(span, new SparkCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val span = spanOf(e.properties)
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = Option(stageSpan.get(e.stageInfo.stageId))
      .getOrElse(spanOf(e.properties))
    stageSpan.put(e.stageInfo.stageId, span)
    acc(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(Option(stageSpan.get(e.stageId)).getOrElse("untraced"))
    c.tasks += 1
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Blocks until every started job's end event was delivered (task
    * end events precede their job's end on the listener bus).
    */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobsEnded < jobsStarted) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Counters summed over the given spans. */
  def total(spans: Iterable[String]): SparkCounters = synchronized {
    val t = new SparkCounters
    spans.toSet.foreach((s: String) => counters.get(s).foreach(t += _))
    t
  }
}

/** In-memory span recorder: spans nest on the calling thread and tag
  * the Spark jobs they launch. Written out once, at exit.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setLocalProperty(Tracer.SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, name, parent, runId, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_._2).orNull)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Wall seconds of every span with this name, summed. */
  def seconds(name: String): Double =
    done.filter(_.name == name).map(_.seconds).sum

  /** Names of the span and every span nested in it. */
  def subtree(name: String): Seq[String] = {
    val roots = done.filter(_.name == name).map(_.id).toSet
    def under(s: Span): Boolean =
      roots(s.id) || done.find(_.id == s.parent).exists(under)
    done.filter(under).map(_.name).distinct.toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
