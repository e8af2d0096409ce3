package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts what one call submits to Spark: jobs and SQL executions. The
  * listener bus delivers events in order, so once a marker job run after
  * the call has ended, every event of the call has been delivered.
  */
object SparkEvents {
  final case class Counts(jobs: Int, sqlExecutions: Int)

  def during[T](spark: SparkSession)(f: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val marker = s"spark-events-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val sqls = new AtomicInteger
    @volatile var markerJob = -1
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == marker)) markerJob = e.jobId
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained = true
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not deliver the marker job's end")
      (r, Counts(jobs.get, sqls.get))
    } finally sc.removeSparkListener(listener)
  }
}
