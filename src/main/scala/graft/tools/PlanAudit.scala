package graft.tools

import graft.SparkEntry

/** Dev tool: dump formatted physical plans for the registered queries and
  * flag the scale smells VERDICT audits — cartesian products, missing
  * pushdown, unexpected single-partition exchanges.
  *
  * Usage: sbt "runMain graft.tools.PlanAudit [sfDir] [query ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = graft.core.Session.build()

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val smells = Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"))
            .collect { case (s, true) => s }
          val nShuffles = "Exchange".r.findAllIn(plan).length
          println(s"=== $name  shuffleOps=$nShuffles" +
            (if (smells.nonEmpty) s"  SMELLS=${smells.mkString(",")}" else ""))
          if (args.length > 1) println(plan)
        } catch {
          case e: Throwable => println(s"=== $name  ERR ${e.getMessage.take(120)}")
        }
      }
    spark.stop()
  }
}
