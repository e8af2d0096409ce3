package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** QueryMetrics counts what the listeners it replaced counted. The pins
  * were recorded at sf0.001 on the 4-core test session with those
  * listeners (SparkEvents' marker-drained job and SQL counts, OptProbe's
  * per-job stage and task tally, ShuffleTally's task-level shuffle
  * records), each over a warm noop write of the query.
  */
class QueryMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def write(name: String): Unit =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .write.mode("overwrite").format("noop").save()

  // (jobs, SQL executions, stages, tasks, shuffle read records, shuffle
  // write records)
  private val pinned = Seq(
    // three-way join plus aggregate: shuffle-heavy
    "q3_join" -> (7, 1, 7, 16, 4806L, 4806L),
    // a per-document map whose only exchange is Tables' spread
    "text_fingerprint" -> (3, 1, 3, 6, 8962L, 8962L))

  pinned.foreach { case (name, want) =>
    test(s"$name: the counts the replaced listeners recorded") {
      write(name)
      val (_, m) = QueryMetrics.during(spark)(write(name))
      assert((m.jobs, m.sqlExecutions, m.stages, m.tasks,
        m.shuffleReadRecords, m.shuffleWriteRecords) == want, m)
      assert(m.perJob.size == m.jobs)
      assert(m.perJob.map(_.stages).sum == m.stages)
      assert(m.perJob.map(_.tasks).sum == m.tasks)
      assert(m.shuffleReadBytes > 0 && m.shuffleWriteBytes > 0)
    }
  }

  test("events of earlier work are not counted, nor are the marker jobs") {
    write("events_sessionize")
    val (r, m) = QueryMetrics.during(spark)(42)
    assert(r == 42)
    assert(m == QueryMetrics.Counts(0, 0, 0, 0, 0L, 0L, 0L, 0L, Nil))
  }
}
