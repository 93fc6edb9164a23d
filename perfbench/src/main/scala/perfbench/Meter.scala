package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark reported between two [[Meter.take]] calls. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var sqlExecs = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** Analysis + optimization + planning, summed over the query executions. */
  var planMs = 0L
  /** Task run intervals in epoch ms; recorded only while tracing. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def fields: Seq[(String, Double)] = Seq[(String, Double)](
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "sql_execs" -> sqlExecs.toDouble, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble, "fetch_wait_s" -> fetchWaitMs / 1e3,
    "spill_bytes" -> spillBytes.toDouble, "input_bytes" -> inputBytes.toDouble,
    "input_records" -> inputRecords.toDouble, "output_bytes" -> outputBytes.toDouble,
    "output_records" -> outputRecords.toDouble, "plan_s" -> planMs / 1e3)
}

/** One traced interval. Spans of one cell share `trace`, the cell span's id. */
final case class Span(id: Long, parent: Long, trace: Long, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Counts every job, stage, task and SQL execution through Spark's public
  * listener API. Counting is always on: the work-identity check needs it
  * on every timed round. With `tracing` set it also records job, stage and
  * SQL-execution spans, task intervals and planning time.
  *
  * Events arrive on the listener-bus thread; callers drain the bus
  * (`org.apache.spark.graft.ShuffleMeter.drain`) before [[take]].
  */
final class Meter extends SparkListener with QueryExecutionListener {
  @volatile var tracing = false
  /** Parent and trace id for spans the listener records: the running cell. */
  @volatile var cellSpan = 0L

  private var cur = new Counts
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var lastId = 0L
  private val sqlOpen = mutable.Map.empty[Long, (Long, Double)]
  private val jobOpen = mutable.Map.empty[Int, (Long, Double, Long)]
  private val stageJob = mutable.Map.empty[Int, Long]

  def newId(): Long = synchronized { lastId += 1; lastId }
  def take(): Counts = synchronized { val c = cur; cur = new Counts; c }
  def addSpan(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized { spans.toList }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    if (tracing) {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      val parent = exec.flatMap(sqlOpen.get).map(_._1).getOrElse(cellSpan)
      val id = newId()
      jobOpen(e.jobId) = (id, e.time.toDouble, parent)
      e.stageIds.foreach(stageJob(_) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (id, start, parent) =>
      spans += Span(id, parent, cellSpan, "job", s"job ${e.jobId}", start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    val info = e.stageInfo
    val parent = stageJob.remove(info.stageId)
    if (tracing) for (s <- info.submissionTime; c <- info.completionTime)
      spans += Span(newId(), parent.getOrElse(cellSpan), cellSpan, "stage",
        s"stage ${info.stageId}", s.toDouble, c.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spillBytes += m.diskBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.inputRecords += m.inputMetrics.recordsRead
      cur.outputBytes += m.outputMetrics.bytesWritten
      cur.outputRecords += m.outputMetrics.recordsWritten
    }
    if (tracing && e.taskInfo != null)
      cur.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      cur.sqlExecs += 1
      if (tracing) sqlOpen(s.executionId) = (newId(), s.time.toDouble)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlOpen.remove(s.executionId).foreach { case (id, start) =>
        spans += Span(id, cellSpan, cellSpan, "sql", s"exec ${s.executionId}", start,
          s.time.toDouble)
      }
    }
    case _ =>
  }

  // QueryExecutionListener: registered only on traced sessions.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlan(qe)

  private def addPlan(qe: QueryExecution): Unit = if (tracing) {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    synchronized { cur.planMs += ms }
  }
}
