package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for a root span; `pass` and `step`
  * identify the workload pass and the step (query) the span belongs to.
  * Times are `System.nanoTime` values. */
final case class Span(
    id: Long, parent: Long, name: String, pass: Int, step: String,
    start: Long, end: Long)

/** In-memory span recorder. Layer spans nest through a stack on the
  * harness thread; the id of the innermost open span is published to
  * Spark as a local property so the jobs a layer call submits can be
  * attributed to it (see [[JobCounters]]). Nothing is written until
  * the run ends. When disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var stack: List[(Long, String, Long)] = Nil
  var pass = 0
  var step = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.fold(0L)(_._1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        spans += Span(id, parent, name, pass, step, start, System.nanoTime())
        sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_._1.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Job, stage and task counters from one [[SparkListener]]. Job times
  * come from the scheduler events (epoch ms) and are converted to the
  * `nanoTime` scale of the spans. */
final class JobCounters extends SparkListener {
  import JobCounters.{Job, Task}

  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + epochToNano

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val submittedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile var stagesCompleted = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong)
    jobs.put(e.jobId, Job(e.jobId, span, e.stageIds, toNano(e.time), -1L))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = toNano(e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submittedStages.add(e.stageInfo.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesCompleted += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ok = e.taskInfo != null && e.taskInfo.successful
    tasks.add(
      if (m == null) Task(ok, 0L, 0L, 0L, 0L, 0L, 0L)
      else Task(ok, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  def clear(): Unit = {
    jobs.clear(); submittedStages.clear(); tasks.clear()
    synchronized { stagesCompleted = 0L }
  }

  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)

  /** Totals over every task seen since the last [[clear]]. */
  def taskTotals: Map[String, Double] = {
    val ts = tasks.asScala.toSeq
    Map(
      "spark.tasks" -> ts.size.toDouble,
      "spark.tasks_failed" -> ts.count(!_.ok).toDouble,
      "spark.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> ts.map(_.input).sum.toDouble)
  }

  /** Wait until the listener bus has delivered every posted event, so a
    * step's last job-end is counted before its spans are read.
    * `listenerBus` is Spark-internal and reached by reflection. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .getOrElse(throw new IllegalStateException(
        "LiveListenerBus.waitUntilEmpty() not found"))
      .invoke(bus)
  }
}

object JobCounters {
  final case class Job(id: Int, span: Option[Long], stageIds: Seq[Int],
      start: Long, var end: Long)
  final case class Task(ok: Boolean, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long)
}

/** Planning time of every query execution, read from the execution's
  * own [[QueryPlanningTracker]]: the interval from the start of its
  * optimization phase to the end of its physical planning. A noop write
  * plans its query again on the write command's `QueryExecution`, so
  * this is where a query's planning is actually spent. The tracker keeps
  * wall-clock milliseconds; intervals are converted to the `nanoTime`
  * scale of the spans, at millisecond resolution. */
final class PlanTimes extends QueryExecutionListener {
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean]())
  private val found = new ConcurrentLinkedQueue[(Long, Long)]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    for {
      o <- phases.get(QueryPlanningTracker.OPTIMIZATION)
      p <- phases.get(QueryPlanningTracker.PLANNING)
      // executions that share a tracker are counted once
      if seen.synchronized(seen.add(qe.tracker))
    } found.add((o.startTimeMs * 1000000L + epochToNano,
      p.endTimeMs * 1000000L + epochToNano))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def clear(): Unit = { found.clear(); seen.synchronized(seen.clear()) }

  /** Every interval seen since the last [[clear]], in arrival order. */
  def intervals: Seq[(Long, Long)] = found.asScala.toSeq
}
