package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, input: Path, seed: Long,
    traced: Boolean, work: Path)

/** A workload's timed body as measured: wall and executor CPU seconds,
  * the peak storage it held, per-layer figures, output digest, the
  * time its top-level calls cover, and the RDDs it left persisted.
  */
final case class Rep(wallS: Double, cpuS: Double, storageMb: Double,
    layers: Map[String, Double], digest: String, callsS: Double,
    persisted: Int)

/** Session ownership, output checks and measurement helpers shared by
  * the workloads.
  */
final class Harness(val args: Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  var spark: SparkSession = _
  var meter: Meter = _
  var setupS = 0.0
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Starts the run's `local[cores]` session. Returns the set-up time,
    * from JVM start until the session is ready.
    */
  def start(): Double = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
    graft.SparkEntry.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    meter = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  }

  def stop(): Unit = if (spark != null) spark.stop()

  /** Record one output check; a check that throws has failed. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val error = try { if (ok) None else Some(what) } catch {
      case e: Exception => Some(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    error.foreach { f => failed += 1; failures += f }
  }

  /** Count a call into graft; a call that throws ends the run. */
  def call[T](t: Tracer, name: String, detail: String = "")(body: => T): T = {
    attempted += 1
    try t(name, detail)(body)
    catch { case e: Exception => failed += 1; throw e }
  }

  /** Block-manager memory + disk held by persisted RDDs now, in MB. */
  def storageMb(): Double =
    org.apache.spark.PerfbenchBus.rddStorageBytes(spark.sparkContext) / 1e6

  def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Materialise every column of `df` in one job: (row count, an
    * order-independent hash sum).
    */
  def digest(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*),
      lit(Harness.HashMod))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Digest of collected rows, independent of their order. */
  def rowsDigest(rows: Seq[Row]): String = md5(rows.map(_.toString).sorted.mkString("\n"))

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object Harness {
  /** Row hashes are reduced mod this prime before summing, so a digest
    * sum cannot overflow.
    */
  val HashMod = 1000000007L
}

object Stats {
  /** Linear-interpolation quantile; `xs` must be non-empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
