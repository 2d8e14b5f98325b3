package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for traced runs. Every span carries its name
  * (`<layer>.<call>`), start and end (ns since the run origin), the span
  * that caused it, and the id of the operation (statement, kernel or
  * commit) it belongs to. Counts are recorded at the same boundaries.
  * Nothing is written until [[Out.spans]] dumps the lot at the end of the
  * run. Disabled, every method is a pass-through and records nothing. */
final class Tracer(val enabled: Boolean) {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0
  private var overheadNs = 0L

  def now(): Long = System.nanoTime() - originNs

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, now())
      }
    }

  /** Open the root span of operation `opId`; its children share the id. */
  def operation[T](opId: Int, kind: String)(body: => T): T = {
    op = opId
    span(s"op.$kind")(body)
  }

  /** A span whose interval was measured by someone else (Spark's
    * planning tracker, a streaming progress report), as a child of the
    * innermost open span. Epoch milliseconds are mapped onto the run's
    * nanosecond clock. */
  def recordEpoch(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      val id = nextId
      nextId += 1
      spans += Span(id, stack.headOption.getOrElse(0), op, name,
        (startMs - originEpochMs) * 1000000L, (endMs - originEpochMs) * 1000000L)
    }

  def add(key: String, v: Double): Unit =
    if (enabled) counts(key) = counts.getOrElse(key, 0.0) + v

  /** Work done only because tracing is on (probes, log listings); its
    * summed wall time is reported as the tracing overhead. */
  def probe(body: => Unit): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      body
      overheadNs += System.nanoTime() - t0
    }

  def overheadMs: Double = overheadNs / 1e6
}

/** Executor-side counters for a traced run: jobs, stages, task metrics,
  * and the job-active intervals from which the driver gap (wall time with
  * no job running) is derived. Only registered when tracing is on. */
final class ExecListener extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  private val open = mutable.Map.empty[Int, Long]
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      deserMs += m.executorDeserializeTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of [startMs, endMs] covered by at least one job. */
  def busyMs(startMs: Long, endMs: Long): Long = synchronized {
    val clipped = intervals.map { case (s, e) => (s max startMs, e min endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        busy += curE - curS
        curS = s
        curE = e
      } else curE = curE max e
    }
    busy + (curE - curS)
  }
}
