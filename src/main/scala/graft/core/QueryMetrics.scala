package graft.core

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What one call submits to Spark, counted by a SparkListener (the UI
  * is disabled, so a query has to report on itself): jobs, SQL
  * executions, stages, tasks, task-level shuffle read/write bytes and
  * records, and per job its description, wall, stages and tasks.
  *
  * The listener bus delivers events asynchronously but in order, so the
  * window is bounded exactly by two marker jobs: everything queued
  * before the first marker ends is ignored, and once the second marker
  * has ended every event of the call has been delivered. The markers
  * (one single-task job each) and the waits run outside `f`, so a caller
  * timing inside `f` does not pay for them.
  */
object QueryMetrics {

  /** One job of the window: `spark.job.description` (null when unset),
    * start-to-end wall, and the stages and tasks it completed.
    */
  final case class Job(description: String, wallMs: Long, stages: Int, tasks: Int)

  final case class Counts(jobs: Int, sqlExecutions: Int, stages: Int, tasks: Int,
      shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      perJob: Seq[Job])

  private val MarkerKey = "graft.queryMetrics.marker"

  /** Run `f` and count what it submitted to Spark. */
  def during[T](spark: SparkSession)(f: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val listener = new Listener(s"graft-query-metrics-${java.util.UUID.randomUUID()}")
    def drain(n: Int): Unit = {
      sc.setLocalProperty(MarkerKey, listener.marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (listener.markersEnded < n && System.nanoTime() < deadline) Thread.sleep(5)
      if (listener.markersEnded < n)
        throw new IllegalStateException("listener bus did not deliver the marker job's end")
    }
    sc.addSparkListener(listener)
    try {
      drain(1)
      val r = f
      drain(2)
      (r, listener.counts)
    } finally sc.removeSparkListener(listener)
  }

  /** Counts between the first and the second marker job's end. Every
    * callback runs on the bus thread; the caller reads the fields only
    * after seeing the volatile `markersEnded` that the bus thread writes
    * last.
    */
  private final class Listener(val marker: String) extends SparkListener {
    @volatile var markersEnded = 0
    private def counting = markersEnded == 1

    private final class J(val description: String, val t0: Long) {
      var t1 = t0
      var stages = 0
      var tasks = 0
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, J]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val markerJobs = mutable.Set.empty[Int]
    private val markerStages = mutable.Set.empty[Int]
    private var sqls, stages, tasks = 0
    private var readBytes, readRecords, writeBytes, writeRecords = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(MarkerKey) == marker)) {
        markerJobs += e.jobId
        markerStages ++= e.stageIds
      } else if (counting) {
        jobs(e.jobId) = new J(props.map(_.getProperty("spark.job.description")).orNull, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs(e.jobId)) markersEnded += 1
      else jobs.get(e.jobId).foreach(_.t1 = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      if (counting && !markerStages(id)) {
        val n = e.stageInfo.numTasks
        stages += 1
        tasks += n
        stageJob.get(id).flatMap(jobs.get).foreach { j => j.stages += 1; j.tasks += n }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (counting && m != null && !markerStages(e.stageId)) {
        readBytes += m.shuffleReadMetrics.totalBytesRead
        readRecords += m.shuffleReadMetrics.recordsRead
        writeBytes += m.shuffleWriteMetrics.bytesWritten
        writeRecords += m.shuffleWriteMetrics.recordsWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart if counting => sqls += 1
      case _ => ()
    }

    def counts: Counts = Counts(jobs.size, sqls, stages, tasks,
      readBytes, readRecords, writeBytes, writeRecords,
      jobs.values.map(j => Job(j.description, j.t1 - j.t0, j.stages, j.tasks)).toSeq)
  }
}
