package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by spans and Spark listener events: Spark stamps jobs
  * and tasks in epoch milliseconds, so spans are kept in epoch
  * milliseconds too (sub-millisecond precision from the monotonic clock).
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One traced interval. `op` groups every span of one timed operation;
  * `parent` is the enclosing span (0 at an op's root).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double)

/** In-memory span recorder: spans are kept until the run ends and only
  * then written out. A disabled recorder (untraced runs) runs the body and
  * records nothing.
  */
final class Spans(val enabled: Boolean) {
  val recorded = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  private var op = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      if (stack.head == 0) op += 1
      val parent = stack.head
      val start = Clock.nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        recorded += Span(id, parent, op, name, start, Clock.nowMs)
      }
    }

  /** Spark jobs become leaf spans under the innermost benchmark span whose
    * window holds the job's start.
    */
  def withJobs(jobs: Seq[JobRec]): Seq[Span] = {
    val ids = Iterator.from(nextId)
    recorded.toSeq ++ jobs.flatMap { j =>
      val holders = recorded.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      if (holders.isEmpty) None
      else {
        val p = holders.minBy(s => s.endMs - s.startMs)
        Some(Span(ids.next(), p.id, p.op, s"spark.job.${j.id}", j.startMs, j.endMs))
      }
    }
  }
}

object Spans {

  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def toJsonLines(spans: Seq[Span]): String =
    spans.sortBy(s => (s.startMs, s.id)).map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}"""
    }.mkString("", "\n", "\n")
}

final case class JobRec(id: Int, startMs: Double, endMs: Double)

/** Cumulative Spark counters. Differences of two snapshots give the work of
  * the interval between them.
  */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0, outputRecords: Long = 0,
    planMs: Long = 0) {
  def -(o: Totals): Totals = Totals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    outputBytes - o.outputBytes, outputRecords - o.outputRecords, planMs - o.planMs)
}

/** The benchmark's own listeners: a [[SparkListener]] for job, stage and
  * task metrics and a [[QueryExecutionListener]] for Catalyst's planning
  * phases. Registered only in traced runs.
  */
final class Listeners(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile private var t = Totals()
  private val jobsBuf = ArrayBuffer.empty[JobRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Double]
  private val taskBuf = ArrayBuffer.empty[(Double, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
    jobStart(e.jobId) = e.time.toDouble
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobsBuf += JobRec(e.jobId, s, e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    t = t.copy(stages = t.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (e.taskInfo != null) taskBuf += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
    t = if (m == null) t.copy(tasks = t.tasks + 1) else t.copy(
      tasks = t.tasks + 1,
      taskRunMs = t.taskRunMs + m.executorRunTime,
      taskCpuNs = t.taskCpuNs + m.executorCpuTime,
      gcMs = t.gcMs + m.jvmGCTime,
      shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = t.spillBytes + m.diskBytesSpilled,
      inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = t.inputRecords + m.inputMetrics.recordsRead,
      outputBytes = t.outputBytes + m.outputMetrics.bytesWritten,
      outputRecords = t.outputRecords + m.outputMetrics.recordsWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    t = t.copy(planMs = t.planMs + ms)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Totals after every event posted so far has been delivered. */
  def totals(): Totals = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(t)
  }

  def jobs: Seq[JobRec] = synchronized(jobsBuf.toSeq)
  def tasksIn(lo: Double, hi: Double): Seq[(Double, Double)] =
    synchronized(taskBuf.filter { case (s, e) => e > lo && s < hi }.toSeq)
}
