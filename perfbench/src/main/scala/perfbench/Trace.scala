package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.ui.{PerfbenchAccess, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One benchmark span: the benchmark's own call into the engine. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double)

/**
 * In-memory span recorder for the benchmark's own calls. Spans of one
 * sequence or query round share a trace id. While a span is open its id
 * rides the Spark local property `perfbench.span`, so every job the call
 * submits (broadcast jobs included: Spark copies local properties to them)
 * is tied to it by [[SparkTrace]].
 */
final class Tracer(sc: SparkContext) {
  /** Spans are recorded only while on (the traced sequences or rounds). */
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var trace = 0L
  private val stack = mutable.Stack.empty[Long]

  def nowMs: Double = System.nanoTime() / 1e6

  def newTrace(): Long = { trace += 1; trace }

  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack.push(id)
    sc.setLocalProperty(SparkTrace.SpanProp, id.toString)
    val t0 = nowMs
    try f
    finally {
      val t1 = nowMs
      stack.pop()
      sc.setLocalProperty(SparkTrace.SpanProp, stack.headOption.map(_.toString).orNull)
      spans += Span(trace, id, parent, name, t0, t1)
    }
  }
}

/** One Spark job as the listener saw it, with the task metrics of its
 * stages and the SQL execution that ran it. */
final class JobRec(val jobId: Int, val span: Long, val execId: Long, val startMs: Double) {
  var endMs: Double = startMs
  var failed = false
  val stages = mutable.ArrayBuffer.empty[Int]
}

final class StageRec(val stageId: Int) {
  var details = ""
  var tasks = 0L; var failedTasks = 0L
  var busyMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
  var spillBytes = 0L; var shuffleWriteBytes = 0L; var fetchWaitMs = 0.0
  var inputBytes = 0L
}

final class ExecRec(val execId: Long, val details: String, val plan: String, val startMs: Double) {
  var endMs: Double = startMs
  var planMs = 0.0
  // per-operator SQL metrics as ("<Operator>.<metric>", value), one entry
  // per operator instance
  val metrics = mutable.ArrayBuffer.empty[(String, Long)]
}

/**
 * Child spans from Spark itself: a SparkListener collects jobs, stages,
 * task metrics and SQL executions (with planning time and per-operator SQL
 * metrics from the executed plan), and a QueryExecutionListener names each
 * action. Only jobs submitted under an open benchmark span
 * (local property `perfbench.span`) are kept, so untraced work costs the
 * listener a property lookup.
 *
 * Listener times are epoch milliseconds; [[Tracer]] spans use the
 * monotonic clock. `offsetMs` converts: monotonic = epoch + offsetMs.
 */
final class SparkTrace(sc: SparkContext) extends SparkListener {
  import SparkTrace._
  val offsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
  private def mono(epochMs: Long): Double = epochMs + offsetMs

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  @volatile var callbackNs = 0L // time spent in this listener

  private def timed(f: => Any): Unit = {
    val t0 = System.nanoTime(); f; callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanProp))).foreach { s =>
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val j = new JobRec(e.jobId, s.toLong, exec, mono(e.time))
      e.stageInfos.foreach { si =>
        j.stages += si.stageId
        stageJob.put(si.stageId, e.jobId)
        stages.computeIfAbsent(si.stageId, id => new StageRec(id)).details = si.details
      }
      jobs.put(e.jobId, j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = mono(e.time)
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stages.get(e.stageId)).filter(_ => stageJob.containsKey(e.stageId)).foreach { s =>
      s.synchronized {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        s.busyMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.cpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execs.put(e.executionId,
          new ExecRec(e.executionId, e.details, e.physicalPlanDescription, mono(e.time)))
      case e: SparkListenerSQLExecutionEnd =>
        Option(execs.get(e.executionId)).foreach { x =>
          x.endMs = mono(e.time)
          PerfbenchAccess.queryExecution(e).foreach { qe =>
            qeExec.put(qe.id, e.executionId)
            x.planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
            collectMetrics(qe.executedPlan, x.metrics)
          }
        }
      case _ =>
    }
  }

  /** The action name of each query execution, from a
   * QueryExecutionListener; `qeExec` ties a query execution to its SQL
   * execution. */
  private val qeExec = new ConcurrentHashMap[Long, Long]()
  private val qeAction = new ConcurrentHashMap[Long, String]()
  val actions: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(qeAction.put(qe.id, funcName))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(qeAction.put(qe.id, funcName + ":failed"))
  }
  def actionName(execId: Long): String = qeExec.asScala.collectFirst {
    case (q, x) if x == execId && qeAction.containsKey(q) => qeAction.get(q)
  }.getOrElse("action")

}

object SparkTrace {
  val SpanProp = "perfbench.span"

  /** Every SQL metric of the executed plan as "<Operator>.<metric>",
   * descending into adaptive and query-stage wrappers. */
  def collectMetrics(plan: SparkPlan, out: mutable.ArrayBuffer[(String, Long)]): Unit = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    plan match {
      case a: AdaptiveSparkPlanExec => collectMetrics(a.executedPlan, out)
      case q: QueryStageExec => collectMetrics(q.plan, out)
      case _ =>
    }
    val op = plan match {
      case _: DataWritingCommandExec => "Write" // its metrics are the command's
      case _ => plan.nodeName.replaceAll("[^A-Za-z]", "")
    }
    plan.metrics.foreach { case (k, m) => out += ((s"$op.$k", m.value)) }
    plan.children.foreach(collectMetrics(_, out))
    plan.subqueries.foreach(collectMetrics(_, out))
  }
}
