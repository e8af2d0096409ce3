package graft.ann

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Generated-class reuse across calls. With the stage id left out of
  * each generated class's source (`spark.sql.codegen.useIdInClassName`
  * in [[graft.SparkEntry.sessionConfigs]]), a warm call re-plans the same
  * kernels and finds every one in Spark's compiled-class cache.
  *
  * The compilation counter is JVM-global; the suite's forked JVM runs
  * suites one after another, so no other suite compiles in between.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def compilations(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm Ann.recallReport compiles no new class") {
    def report() = Ann.recallReport(spark, TestSpark.sf).collect()
    val cold = report()
    val before = compilations()
    val warm = report()
    val compiled = compilations() - before
    assert(warm.sortBy(_.getString(0)).toSeq == cold.sortBy(_.getString(0)).toSeq)
    assert(compiled == 0, s"the warm call compiled $compiled classes")
  }
}
