package graft.tools

import graft.core.{Caches, QueryMetrics, Session}

/** Dev tool: which registered queries run Spark JOBS at
  * plan-CONSTRUCTION time? Those are the "eager" set a SQL-surface
  * registration must not pay for (VERDICT r8 item 7) — trainer loops,
  * localCheckpoint-based iterations, staging writes, streaming runs,
  * driver-collected probe sets. Everything else is a pure logical-plan
  * build.
  *
  * Usage: sbt "runMain graft.tools.EagerAudit <sfDir>"
  * Prints `EAGER <name> <jobs>` / `LAZY <name>` per query.
  */
object EagerAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.build()
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      // cold caches per name: an op is lazy only if its builder never
      // runs jobs even when NO sibling has warmed a shared cache first
      // (order-dependent warmth hid graph_modularity behind graph_lpa)
      Caches.clearAll()
      // the per-table schema memo is allowed (table registration pays
      // footer inference once); re-warm it outside the counting window
      graft.SqlSurface.registerTables(spark, dir)
      try {
        val (_, m) = QueryMetrics.during(spark)(graft.SparkEntry.queries(name)(spark, dir))
        println(if (m.jobs > 0) s"EAGER $name ${m.jobs}" else s"LAZY $name")
      } catch {
        case e: Throwable =>
          println(s"ERR $name ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
