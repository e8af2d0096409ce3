package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft harness builds its SparkSession: Bench, Verify,
  * the dev tools and the test suite all start here, so they run on the
  * same master, parallelism, session confs and log hygiene.
  *
  *  - master `local[cpus]`, one shuffle partition per core, UI off;
  *  - [[graft.SparkEntry.sessionConfigs]] on the builder;
  *  - WARN log level plus [[Logs.quietBoundedWindowWarnings]].
  *
  * Callers that need more (Bench's checkpoint sweep, a tool's own log
  * demotions) add it to the returned session.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the host's cores capped at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  /** @param fair FAIR scheduling, for a harness that submits queries
    *             from several threads at once (Verify)
    */
  def build(cpus: Int = cpus, fair: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    if (fair) b.config("spark.scheduler.mode", "FAIR")
    graft.SparkEntry.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietBoundedWindowWarnings()
    spark
  }
}
