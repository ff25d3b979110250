package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable

/** Counters a span collects from Spark's listener events. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuMs, gcMs = 0.0
  var inBytes, inRows, outBytes, shReadBytes, shWriteBytes, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  /** [submit, end] wall-clock ms of each job that ended in the span. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks
    taskMs += o.taskMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    inBytes += o.inBytes; inRows += o.inRows; outBytes += o.outBytes
    shReadBytes += o.shReadBytes; shWriteBytes += o.shWriteBytes
    spillBytes += o.spillBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    jobSpans ++= o.jobSpans
  }

  /** Wall ms during which at least one job ran (union of job spans). */
  def jobBusyMs: Double = {
    var busy = 0L; var curS = -1L; var curE = -1L
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) busy += curE - curS
    busy.toDouble
  }
}

/** One timed region around a call into a layer. Times are ns from the
  * run's clock; `parent` is -1 for an op's root span.
  */
final class Span(val id: Int, val parent: Int, val op: Int,
                 val name: String, val start: Long) {
  var end = 0L
  var childNs = 0L
  val counts = new Counts
  def ms: Double = (end - start) / 1e6
  def selfMs: Double = (end - start - childNs) / 1e6
}

/** Span recorder for the traced run. With `on = false` every method is
  * a pass-through, so untraced runs measure the program alone.
  *
  * Attribution: the client is one thread and a closed loop, and the
  * listener bus is drained whenever a span closes, so every event
  * delivered while a span is the innermost open one was caused by the
  * work inside it. The op id also rides on every job as the local
  * property [[Tracer.OpProperty]], recorded for cross-checking in the
  * span dump (graft labels its store jobs through
  * `spark.job.description`, which is left alone).
  */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val pending = new ConcurrentLinkedQueue[Any]()
  private var spark: SparkSession = _
  private var currentOp = -1
  /** Jobs whose op property named another op than the open one. */
  var foreignJobs = 0L

  import Tracer._

  private val jobStarts = mutable.HashMap.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
        .map(_.toInt).getOrElse(-1)
      pending.add(JobStarted(e.jobId, e.time, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      pending.add(JobEnded(e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      pending.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      pending.add(e)
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      pending.add(QueryDone(qe.tracker.phases.map { case (k, v) =>
        k -> v.durationMs.toDouble }))
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = phases(qe)
  }

  /** Attach to a (new) session; a no-op when tracing is off. */
  def attach(s: SparkSession): Unit = if (on) {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
  }

  private def drainInto(c: Counts): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    var e = pending.poll()
    while (e != null) {
      e match {
        case JobStarted(id, t, op) =>
          c.jobs += 1; jobStarts(id) = t
          if (op != currentOp) foreignJobs += 1
        case JobEnded(id, t) =>
          jobStarts.remove(id).foreach(s => c.jobSpans += ((s, t)))
        case s: SparkListenerStageCompleted =>
          c.stages += 1
        case t: SparkListenerTaskEnd =>
          c.tasks += 1
          if (t.taskInfo.failed) c.failedTasks += 1
          Option(t.taskMetrics).foreach { m =>
            c.taskMs += m.executorRunTime
            c.cpuMs += m.executorCpuTime / 1e6
            c.gcMs += m.jvmGCTime
            c.inBytes += m.inputMetrics.bytesRead
            c.inRows += m.inputMetrics.recordsRead
            c.outBytes += m.outputMetrics.bytesWritten
            c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        case QueryDone(ph) =>
          c.analysisMs += ph.getOrElse("analysis", 0.0)
          c.optimizationMs += ph.getOrElse("optimization", 0.0)
          c.planningMs += ph.getOrElse("planning", 0.0)
        case _ =>
      }
      e = pending.poll()
    }
  }

  /** Time `body` as a span named `name` under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      // events before this span opened belong to the enclosing one
      stack.headOption.foreach(p => drainInto(p.counts))
      val parent = stack.headOption
      val s = new Span(spans.size, parent.fold(-1)(_.id), currentOp, name,
        System.nanoTime())
      spans += s; stack.push(s)
      try body
      finally {
        s.end = System.nanoTime()
        drainInto(s.counts)
        stack.pop()
        parent.foreach(_.childNs += s.end - s.start)
      }
    }

  /** Run one op as a root span, tagging its jobs with the op id. */
  def op[T](id: Int, kind: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      currentOp = id
      sc.setLocalProperty(Tracer.OpProperty, id.toString)
      try span(kind)(body)
      finally {
        sc.setLocalProperty(Tracer.OpProperty, null)
        currentOp = -1
      }
    }

  def detach(): Unit = if (on && spark != null) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    pending.clear(); jobStarts.clear()
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  private final case class JobStarted(id: Int, time: Long, op: Int)
  private final case class JobEnded(id: Int, time: Long)
  private final case class QueryDone(phases: Map[String, Double])
}
