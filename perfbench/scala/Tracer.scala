package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import perfbench.Json

/** Span recorder for traced executions: SQL executions, jobs, stages and
  * tasks, each with its start, end and parent (a task's stage, a stage's
  * job, a job's SQL execution). Spans stay in memory until the run ends.
  *
  * Lives under `org.apache.spark` only to drain the listener bus, so the
  * caller can switch recording on and off between executions without
  * losing events still queued from the last one. */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile private var on = false
  private val out = new ConcurrentLinkedQueue[String]()
  spark.sparkContext.addSparkListener(this)

  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Recording state for the next execution; drains first, so every event
    * of the previous execution is already recorded or dropped. */
  def enabled_=(v: Boolean): Unit = { drain(); on = v }
  def enabled: Boolean = on

  def spans: Seq[String] = out.asScala.toSeq

  private def emit(kvs: (String, Any)*): Unit = if (on) out.add(Json.obj(kvs: _*))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    emit("k" -> "job_start", "id" -> e.jobId, "t" -> e.time,
      "sql" -> sql.map(_.toLong).getOrElse(null), "stages" -> e.stageIds,
      "callsite" -> last.map(_.details).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit("k" -> "job_end", "id" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    emit("k" -> "stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "submit" -> s.submissionTime.getOrElse(null), "done" -> s.completionTime.getOrElse(null),
      "tasks" -> s.numTasks, "name" -> s.name,
      "scan" -> s.rddInfos.exists(_.name == "FileScanRDD"))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    emit("k" -> "task", "stage" -> e.stageId, "launch" -> i.launchTime, "finish" -> i.finishTime,
      "ok" -> i.successful,
      "run_ms" -> metric(_.executorRunTime),
      "in_rec" -> metric(_.inputMetrics.recordsRead),
      "in_bytes" -> metric(_.inputMetrics.bytesRead),
      "out_rec" -> metric(_.outputMetrics.recordsWritten),
      "out_bytes" -> metric(_.outputMetrics.bytesWritten),
      "sh_read" -> metric(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      "sh_write" -> metric(_.shuffleWriteMetrics.bytesWritten),
      "spill" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "peak" -> metric(_.peakExecutionMemory))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      emit("k" -> "sql_start", "id" -> s.executionId, "t" -> s.time,
        "root" -> s.rootExecutionId.getOrElse(s.executionId), "callsite" -> s.details)
    case s: SparkListenerSQLExecutionEnd =>
      emit("k" -> "sql_end", "id" -> s.executionId, "t" -> s.time)
    case _ =>
  }
}
