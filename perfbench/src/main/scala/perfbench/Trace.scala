package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Engine work done so far, as running totals. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskCpuNs: Long = 0,
    shuffleWriteB: Long = 0, shuffleReadB: Long = 0, spillB: Long = 0,
    inputB: Long = 0) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs, shuffleWriteB - o.shuffleWriteB,
    shuffleReadB - o.shuffleReadB, spillB - o.spillB, inputB - o.inputB)
}

/** A SparkListener attached from outside the program for the traced run
  * only. It keeps running totals of the work the engine reports and the
  * wall-clock interval of every job, so the time the driver spends with
  * no job running can be measured. */
final class EngineCounters extends SparkListener {
  @volatile private var w = Work()
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs(e.jobId) = e.time
    w = w.copy(jobs = w.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { w = w.copy(stages = w.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    w = if (m == null) w.copy(tasks = w.tasks + 1) else w.copy(
      tasks = w.tasks + 1,
      taskCpuNs = w.taskCpuNs + m.executorCpuTime,
      shuffleWriteB = w.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadB = w.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      spillB = w.spillB + m.diskBytesSpilled + m.memoryBytesSpilled,
      inputB = w.inputB + m.inputMetrics.bytesRead)
  }

  def now: Work = w

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobBusyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = jobSpans.iterator
      .map { case (s, e) => (s.max(fromMs), e.min(toMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    busy + (curE - curS)
  }
}

/** One timed call into a module of the program. `parent` is the span that
  * was open when this one started (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long, work: Work) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Every boundary drains the
  * listener bus first, so each span's work delta holds exactly the Spark
  * jobs that ran while it was open. Spans are written out by the caller
  * once the run has ended. */
final class Tracer(sc: SparkContext, val counters: EngineCounters) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    PerfbenchBus.drain(sc)
    val w0 = counters.now
    val t0 = System.nanoTime()
    open.push(id)
    try body
    finally {
      open.pop()
      PerfbenchBus.drain(sc)
      done += Span(id, parent, name, t0, System.nanoTime(), counters.now - w0)
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** A span's duration minus the part of it its children cover. Children
    * run on the same thread inside their parent, so they never overlap. */
  def selfSecs: Map[Int, Double] = {
    val childSecs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    spans.map(s => s.id -> (s.secs - childSecs.getOrElse(s.id, 0.0))).toMap
  }
}
