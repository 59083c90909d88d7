package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One timed layer call. `parent` is -1 for an op's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long) {
  var end: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Records spans around layer calls and tags every Spark job started inside
  * a span with that span's id (a thread-local property the listener reads).
  * The untraced tracer only runs the body. */
class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time per span: its wall time minus the part its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.map(s => s.id -> (s.seconds - child(s.id))).toMap
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** What a job's cost is filed under: the span current when it started, its
  * SQL execution (-1 if none) and whether its own call site lies in the
  * program's `graft.operators` package. */
final case class JobKey(span: Int, execution: Long, operators: Boolean)

/** Spark cost of a set of jobs. */
final class Cost {
  var jobs, stages, tasks, failedTasks = 0L
  var jobNanos, taskCpuNanos, taskRunMs, taskWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputRows, bytesWritten = 0L

  def +=(o: Cost): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    jobNanos += o.jobNanos; taskCpuNanos += o.taskCpuNanos
    taskRunMs += o.taskRunMs; taskWaitMs += o.taskWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputRows += o.inputRows; bytesWritten += o.bytesWritten
  }
}

/** Attributes job, stage and task metrics to the span that was current on
  * the thread that started the job. */
class CostListener extends SparkListener {
  private val jobKey = mutable.Map.empty[Int, JobKey]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageKey = mutable.Map.empty[Int, JobKey]
  val costs = mutable.Map.empty[JobKey, Cost]
  val runJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  // SQL executions started from `graft.operators` code, or nested in one
  val operatorExecutions = mutable.Set.empty[Long]

  private def cost(k: JobKey): Cost = costs.getOrElseUpdate(k, new Cost)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      if (s.details.contains("graft.operators.") ||
          s.rootExecutionId.exists(operatorExecutions.contains))
        operatorExecutions += s.executionId
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (name: String) => Option(e.properties).flatMap(p => Option(p.getProperty(name)))
    val k = JobKey(prop(Tracer.SpanProperty).map(_.toInt).getOrElse(-1),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.stageInfos.exists(_.details.contains("graft.operators.")))
    jobKey(e.jobId) = k
    jobStart(e.jobId) = e.time
    e.stageInfos.foreach(s => stageKey(s.stageId) = k)
    cost(k).jobs += 1
    prop(CostListener.RunProperty).foreach(run => runJobs(run) += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (k <- jobKey.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      cost(k).jobNanos += (e.time - t0) * 1000000L
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(k => cost(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cost(stageKey.getOrElse(e.stageId, JobKey(-1, -1L, operators = false)))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNanos += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.taskWaitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }
}

object CostListener {
  /** Names the op run (`<op>:t` traced, `<op>:u` untraced) a job belongs to. */
  val RunProperty = "perfbench.run"
}
