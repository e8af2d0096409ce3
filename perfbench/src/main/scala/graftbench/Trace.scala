package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counted for one job group, or for a whole session. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }

  def copy(): Work = { val w = new Work; w += this; w }
}

/** A Spark job's interval and the job group it ran under. */
final case class JobRecord(id: Int, group: String, startMs: Long,
    var endMs: Long)

/** The benchmark's own listener. It attributes jobs, stages and task
  * metrics to the job group that was set when the job was submitted;
  * jobs submitted with no group count only toward the session total.
  * While [[watchStorage]] is on, it also reads the block manager's
  * persisted-RDD storage at the end of every job and keeps the peak.
  */
final class Meter(sc: SparkContext) extends SparkListener {
  val total = new Work
  private var watching = false
  private var peakBytes = 0L
  val byGroup = mutable.Map.empty[String, Work]
  val jobs = mutable.ArrayBuffer.empty[JobRecord]
  private val open = mutable.Map.empty[Int, JobRecord]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def work(group: String): Seq[Work] =
    if (group == null) Seq(total)
    else Seq(total, byGroup.getOrElseUpdate(group, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val j = JobRecord(e.jobId, group, e.time, e.time)
    jobs += j
    open(e.jobId) = j
    e.stageIds.foreach(stageGroup(_) = group)
    work(group).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(_.endMs = e.time)
    if (watching) sampleStorage()
  }

  private def sampleStorage(): Unit =
    peakBytes = math.max(peakBytes, org.apache.spark.PerfbenchBus.rddStorageBytes(sc))

  /** Start keeping the storage peak, from what is held now. */
  def watchStorage(): Unit = synchronized {
    watching = true
    peakBytes = 0L
    sampleStorage()
  }

  /** Stop keeping the storage peak; returns it in MB, counting what is
    * held now and every job end delivered so far.
    */
  def peakStorageMb(): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      sampleStorage()
      watching = false
      peakBytes / 1e6
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    work(stageGroup.getOrElse(e.stageId, null)).foreach { w =>
      w.tasks += 1
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Session totals once every event posted so far has been delivered. */
  def snapshot(): Work = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(total.copy())
  }
}

/** One timed call: name, detail (e.g. the request type), parent span,
  * wall-clock bounds in ms (to intersect with job intervals) and a
  * monotonic duration.
  */
final case class Span(id: Int, name: String, detail: String, parent: Int,
    startMs: Long, startNs: Long, group: String) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. When `traced`, every span also sets a Spark
  * job group, so the [[Meter]] can attribute the span's Spark work.
  */
final class Tracer(sc: SparkContext, traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val prefix = s"perfbench-${Tracer.count.incrementAndGet()}"

  def apply[T](name: String, detail: String = "")(body: => T): T = {
    val s = Span(spans.size, name, detail, stack.headOption.fold(-1)(_.id),
      System.currentTimeMillis(), System.nanoTime(), s"$prefix-${spans.size}")
    spans += s
    stack = s :: stack
    if (traced) sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s.id).map(_.seconds).sum
}

object Tracer {
  /** Tracers in this JVM, so job-group names never repeat. */
  private val count = new java.util.concurrent.atomic.AtomicInteger
}

/** Per-layer numbers for the spans of one name in one tracer. */
object Layers {
  val Measures: Seq[(String, String)] = Seq("wall_s" -> "s", "driver_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  /** Merged length of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var sum = 0L
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
      }
    sum
  }

  /** wall, driver (wall no job covers), and the work of the spans named
    * `name` and of their descendants.
    */
  def measure(t: Tracer, m: Meter, name: String): Map[String, Double] = {
    val roots = t.spans.filter(_.name == name)
    def subtree(s: Span): Seq[Span] = s +: t.children(s.id).flatMap(subtree)
    val w = new Work
    var wall = 0.0
    var driver = 0.0
    m.synchronized {
      roots.foreach { r =>
        val groups = subtree(r).map(_.group).toSet
        groups.foreach(g => m.byGroup.get(g).foreach(w += _))
        val jobs = m.jobs.filter(j => groups(j.group)).map(j => (j.startMs, j.endMs))
        val cov = covered(jobs.toSeq, r.startMs, r.endMs) / 1e3
        wall += r.seconds
        driver += math.max(0.0, r.seconds - cov)
      }
    }
    Map("wall_s" -> wall, "driver_s" -> driver, "jobs" -> w.jobs.toDouble,
      "tasks" -> w.tasks.toDouble, "cpu_s" -> w.cpuNs / 1e9,
      "gc_s" -> w.gcMs / 1e3, "shuffle_mb" -> w.shuffleBytes / 1e6,
      "spill_mb" -> w.spillBytes / 1e6)
  }
}
