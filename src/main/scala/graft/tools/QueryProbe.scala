package graft.tools

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.core.{Caches, Logs, QueryMetrics, Session}

/** Dev tool: where one registered query's time goes, without paying for
  * the whole bench board. After an untimed warmup pass over all names,
  * each query prints one line:
  *
  *  - build / plan / exec: DataFrame CONSTRUCTION (builder code and the
  *    analysis it triggers), PLANNING of the final frame, and EXECUTION
  *    (noop write) of the first warm leg. A query whose planning leg
  *    dominates has a duplicated-subtree / giant-plan problem, not a
  *    data problem;
  *  - warm: min of two warm legs; cold: one leg after the derived tier
  *    is evicted (the Bench protocol);
  *  - rows: the output row count, which tells superlinear RUNTIME from
  *    superlinear OUTPUT;
  *  - jobs / stages / tasks of the first warm leg ([[QueryMetrics]]).
  *
  * `OPTPROBE_JOBS=<n>` (default 0) adds that leg's n slowest jobs with
  * their stages, tasks and description.
  *
  * Usage: sbt "runMain graft.tools.QueryProbe <sfDir> <query> [query...]"
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail.toSeq
    val jobsTop = sys.env.get("OPTPROBE_JOBS").map(_.toInt).getOrElse(0)
    val spark = Session.build()
    Caches.enableCheckpointSweep() // the cold leg rebuilds its frame
    Logs.quietCheckpointEvictionWarnings()
    val sc = spark.sparkContext

    def secs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime; val r = f; (r, (System.nanoTime - t0) / 1e9)
    }
    def exec(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def leg(name: String): Double = {
      System.gc()
      secs(exec(SparkEntry.queries(name)(spark, dir)))._2
    }

    names.foreach { n =>
      try exec(SparkEntry.queries(n)(spark, dir))
      catch { case e: Throwable => println(s"[qprobe] $n warmup ERR $e") }
    }
    names.foreach { n =>
      try {
        System.gc()
        val ((build, plan, run), m) = QueryMetrics.during(spark) {
          try {
            sc.setJobDescription(s"$n: build")
            val (df, build) = secs(SparkEntry.queries(n)(spark, dir))
            sc.setJobDescription(s"$n: plan")
            val plan = secs(df.queryExecution.executedPlan)._2
            sc.setJobDescription(s"$n: exec")
            (build, plan, secs(exec(df))._2)
          } finally sc.setJobDescription(null)
        }
        val warm = math.min(build + plan + run, leg(n))
        val rows = SparkEntry.queries(n)(spark, dir).count()
        Caches.clearDerived()
        val cold = leg(n)
        println(f"[qprobe] $n%-28s build $build%6.2f plan $plan%6.2f exec $run%6.2f" +
          f"  warm $warm%7.2f s  cold $cold%7.2f s  rows $rows" +
          s"  jobs ${m.jobs} stages ${m.stages} tasks ${m.tasks}")
        m.perJob.sortBy(-_.wallMs).take(jobsTop).foreach { j =>
          println(f"[qprobe]   ${j.wallMs / 1e3}%7.2f s stages=${j.stages}%3d " +
            f"tasks=${j.tasks}%5d  ${String.valueOf(j.description).take(90)}")
        }
      } catch { case e: Throwable => println(s"[qprobe] $n ERR $e") }
    }
    spark.stop()
  }
}
