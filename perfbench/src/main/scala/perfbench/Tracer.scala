package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observers, all through public Spark APIs: a
  * `SparkListener` (SQL executions, jobs, stages, per-stage task sums), a
  * `QueryExecutionListener` (Catalyst phase times from
  * `QueryExecution.tracker`, scan-node SQL metrics of the executed plan)
  * and the codegen compile log line (one per Janino compile, with its
  * time). Registered for one pass by [[start]], removed by [[stop]]. */
final class Tracer(spark: SparkSession, rec: Records) {
  private val jobs = new JobListener(rec)
  private val execs = new ExecListener(rec)
  private val compiles = new CompileAppender(rec)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(execs)
    compiles.attach()
  }
  def stop(): Unit = {
    drain()
    compiles.detach()
    spark.listenerManager.unregister(execs)
    spark.sparkContext.removeSparkListener(jobs)
  }
  /** Analysis runs eagerly when a Dataset is built, so the returned
    * DataFrame's own tracker holds it; its write is a separate command. */
  def built(df: org.apache.spark.sql.DataFrame): Unit =
    rec.add("built", Seq("ms" -> Clock.nowMs, "phases_ms" ->
      df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs }))
  /** Listener events are delivered asynchronously: wait until every SQL
    * execution seen has ended (its end event also carries the
    * QueryExecutionListener call) and the log has been quiet a moment. */
  def drain(): Unit = {
    val deadline = Clock.nowMs + 10000
    while ((jobs.openExecutions > 0 || Clock.nowMs - rec.lastAddMs < 300) &&
        Clock.nowMs < deadline)
      Thread.sleep(50)
  }
}

object Tracer {
  /** Janino compiles since JVM start (exact: a histogram's count). */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

final class JobListener(rec: Records) extends SparkListener {
  private case class StageSums(var tasks: Long = 0, var failed: Long = 0,
      var taskMs: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
      var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
      var spill: Long = 0, var output: Long = 0, var input: Long = 0)
  private val sums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageSums]
  private val open = new java.util.concurrent.atomic.AtomicInteger
  def openExecutions: Int = open.get

  override def onJobStart(e: SparkListenerJobStart): Unit =
    rec.add("job_start", Seq("job" -> e.jobId, "ms" -> e.time,
      "exec" -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L),
      "stages" -> e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.add("job_end", Seq("job" -> e.jobId, "ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = sums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => StageSums())
    s.synchronized {
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.output += m.outputMetrics.bytesWritten
        s.input += m.inputMetrics.bytesRead
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = Option(sums.remove((i.stageId, i.attemptNumber()))).getOrElse(StageSums())
    rec.add("stage", Seq("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "start_ms" -> i.submissionTime.getOrElse(-1L),
      "end_ms" -> i.completionTime.getOrElse(-1L),
      "ok" -> i.failureReason.isEmpty,
      "tasks" -> s.tasks, "task_failures" -> s.failed, "task_ms" -> s.taskMs,
      "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
      "shuffle_write_bytes" -> s.shuffleWrite,
      "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
      "output_bytes" -> s.output, "input_bytes" -> s.input))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      open.incrementAndGet()
      rec.add("exec_start", Seq("exec" -> s.executionId, "ms" -> s.time))
    case s: SparkListenerSQLExecutionEnd =>
      open.decrementAndGet()
      rec.add("exec_end", Seq("exec" -> s.executionId, "ms" -> s.time))
    case _ =>
  }
}

/** Catalyst phases and scan metrics per successful or failed action. */
final class ExecListener(rec: Records) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs }
    var rows, bytes, files = 0L
    var scanMs = 0.0
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
      case s: BatchScanExec => s
    }.foreach { s =>
      rows += metric(s, "numOutputRows")
      bytes += metric(s, "filesSize")
      files += metric(s, "numFiles")
      // scanTime is in ms; metadataTime is the file listing
      scanMs += metric(s, "scanTime") + metric(s, "metadataTime")
    }
    rec.add("action", Seq("ms" -> Clock.nowMs, "ok" -> ok,
      "phases_ms" -> phases, "scan_rows" -> rows, "scan_bytes" -> bytes,
      "scan_files" -> files, "scan_ms" -> scanMs))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe, ok = true)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, ok = false)
}

/** Janino compile times, from the code generator's own INFO line
  * ("Code generated in N ms"), captured only while attached. */
final class CompileAppender(rec: Records) {
  private val loggerName =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case pattern(ms) => rec.add("compile", Seq("ms" -> Clock.nowMs,
          "compile_ms" -> ms.toDouble))
        case _ =>
      }
  }
  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def attach(): Unit = {
    appender.start()
    val config = ctx.getConfiguration
    val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
      loggerName, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    config.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }
  def detach(): Unit = {
    ctx.getConfiguration.removeLogger(loggerName)
    ctx.updateLoggers()
  }
}
