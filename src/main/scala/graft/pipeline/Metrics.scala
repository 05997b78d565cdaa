package graft.pipeline

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable

/** APM analogue (reference: the `apm` feature exporting traces/metrics):
  * a SparkListener aggregating task/stage counters that a metrics exporter
  * can scrape, plus one record per Spark job and per completed stage (the
  * per-job profile `graft.JobProf` prints). Spark already carries the
  * observability spine (listeners, SQL metrics, event logs); this surfaces
  * the pipeline-level counters the reference exposes. The records grow with
  * every job seen, so attach it for a bounded span (`during`).
  */
final class QueryMetricsListener extends SparkListener {
  import QueryMetricsListener.{JobRecord, StageRecord}

  val jobsStarted = new LongAdder
  val tasksCompleted = new LongAdder
  val stagesCompleted = new LongAdder
  val recordsRead = new LongAdder
  val recordsWritten = new LongAdder
  val bytesRead = new LongAdder
  val shuffleBytesWritten = new LongAdder
  val peakExecutionMemory = new AtomicLong(0)

  // written on the listener-bus thread; read them after a drain (`during`)
  private val jobRecs = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageRecs = mutable.ArrayBuffer[StageRecord]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private val execDesc = mutable.HashMap[Long, String]()
  /** Every job started, in start order. */
  def jobs: Seq[JobRecord] = jobRecs.values.toList
  /** Every stage completed, in completion order. */
  def stages: Seq[StageRecord] = stageRecs.toList

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execDesc(s.executionId) = s.description.linesIterator.take(1).mkString.take(100)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.increment()
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(id => s"exec#$id " + execDesc.getOrElse(id.toLong, "")).getOrElse("")
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    jobRecs(e.jobId) = new JobRecord(e.jobId, e.time, e.stageIds.size, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobRecs.get(e.jobId).foreach(_.end = e.time)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    tasksCompleted.increment()
    val m = taskEnd.taskMetrics
    if (m != null) {
      recordsRead.add(m.inputMetrics.recordsRead)
      recordsWritten.add(m.outputMetrics.recordsWritten)
      bytesRead.add(m.inputMetrics.bytesRead)
      shuffleBytesWritten.add(m.shuffleWriteMetrics.bytesWritten)
      peakExecutionMemory.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
    for (jid <- stageToJob.get(taskEnd.stageId); j <- jobRecs.get(jid)) {
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    stagesCompleted.increment()
    val si = sc.stageInfo
    val dur = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a)
      .getOrElse(-1L)
    val scopes = si.rddInfos.flatMap(_.scope).map(_.name.split("\n").head)
      .distinct.mkString(">")
    stageRecs += StageRecord(si.stageId, stageToJob.getOrElse(si.stageId, -1),
      dur, si.numTasks, scopes)
  }

  def snapshot: Map[String, Long] = Map(
    "jobs_started" -> jobsStarted.sum(),
    "tasks_completed" -> tasksCompleted.sum(),
    "stages_completed" -> stagesCompleted.sum(),
    "records_read" -> recordsRead.sum(),
    "records_written" -> recordsWritten.sum(),
    "bytes_read" -> bytesRead.sum(),
    "shuffle_bytes_written" -> shuffleBytesWritten.sum(),
    "peak_execution_memory" -> peakExecutionMemory.get())
}

object QueryMetricsListener {
  /** One Spark job: start/end times (ms; `end` -1 until it ends), stage
    * count, the tasks ended in its stages with their summed executor run
    * time and shuffle bytes read, and its SQL execution's description. */
  final class JobRecord(val id: Int, val start: Long, val stageCount: Int, val desc: String,
                        var end: Long = -1L, var tasks: Int = 0, var runMs: Long = 0L,
                        var shuffleRead: Long = 0L)

  /** One completed stage: its job (-1 if unseen), submission-to-completion
    * ms (-1 if unknown), task count and distinct RDD scopes joined by `>`. */
  final case class StageRecord(id: Int, job: Int, durMs: Long, tasks: Int, scopes: String)

  /** Run `f` with a fresh listener attached and return its result with the
    * listener. The bus is drained before the listener is attached, so no
    * event from earlier work reaches it, and drained again after `f`, so
    * every event `f` posted (each job's start/end, task and stage event) has
    * been delivered when this returns. The listener is detached in a
    * `finally`, so a throwing `f` leaves no listener behind. */
  def during[T](spark: SparkSession)(f: => T): (T, QueryMetricsListener) = {
    val l = new QueryMetricsListener
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try (f, l)
    finally {
      try Bridge.drainListenerBus(spark)
      finally spark.sparkContext.removeSparkListener(l)
    }
  }
}
