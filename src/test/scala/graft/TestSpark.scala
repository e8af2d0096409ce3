package graft

import org.apache.spark.sql.SparkSession

/** Shared test session + the smallest test-data SF. Four cores whatever
  * the host, so partition-order-sensitive pins (TrainPinSpec's raw bits)
  * do not depend on the machine.
  */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Session.build(cpus = 4)

  val sf = "/root/testdata/sf0.001"
}
