package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around calls into the program's public functions, plus a Spark
  * listener that records every job the calls run. Raw records only: the
  * arithmetic (job → span attribution, gap, self time, medians) is done by
  * `perfbench/metrics.py`, where it is unit-tested.
  *
  * Spans are opened and closed on the driver thread that runs the
  * workload (one client). Times are epoch nanoseconds so they compare with
  * the listener's job times, which Spark stamps in epoch milliseconds.
  */
final class Tracer(sc: SparkContext) {
  private val milli0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowNs(): Long = milli0 * 1000000L + (System.nanoTime() - nano0)

  final case class Span(id: Int, parent: Int, name: String, op: Int,
      startNs: Long, var endNs: Long = -1L)
  final case class Job(id: Int, startMs: Long, var endMs: Long = -1L,
      var tasks: Long = 0L, var cpuNs: Long = 0L, var shuffleBytes: Long = 0L,
      var succeeded: Boolean = false, site: String = "")

  val spans = mutable.ArrayBuffer.empty[Span]
  /** (span id, label, seconds) drained from graft.functions.Phases. */
  val phases = mutable.ArrayBuffer.empty[(Int, String, Double)]
  /** (span id, key, value) scalar facts about a call (e.g. fit_iters). */
  val facts = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var stack: List[Span] = Nil
  private var op = -1

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      // call site of the job's last stage (the action that submitted it)
      jobs(e.jobId) = Job(e.jobId, e.time,
        site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.succeeded = e.jobResult == JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
        job.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          job.cpuNs += m.executorCpuTime
          job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  @volatile private var active = false
  def isActive: Boolean = active

  /** Trace operation `opIndex`: record spans and jobs until [[stop]]. */
  def start(opIndex: Int): Unit = {
    op = opIndex
    active = true
    sc.addSparkListener(listener)
  }

  /** Stop recording; waits until the listener has seen every job event. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    active = false
  }

  /** Run `f` with recording off, then resume it for the same operation. */
  def untraced[A](f: => A): A =
    if (!active) f
    else {
      stop()
      try f finally start(op)
    }

  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, op, nowNs())
      spans += s
      stack = s :: stack
      try f
      finally {
        s.endNs = nowNs()
        stack = stack.tail
      }
    }

  def currentSpan: Int = stack.headOption.map(_.id).getOrElse(-1)

  def jobRecords: Seq[Job] = synchronized(jobs.values.toSeq)
}
