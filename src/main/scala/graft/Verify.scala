package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run CONCURRENTLY on a small submitter pool (FAIR scheduler):
  * the 50-query serial pass was dominated by the iterative trainers'
  * many small jobs (~6.5 min wall on 4 local cores), which is what
  * appears to have blown the driver's round-3 verify window
  * (CORRECTNESS_r03 came back empty). Independent queries interleave fine; session caches are
  * race-safe (core/Caches putIfAbsent).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: restrict to these query names (dev iteration).
    val only: Set[String] = args.drop(2).toSet
    val spark = graft.core.Session.build(fair = true)
    new java.io.File(outDir).mkdirs()
    // Serial prewarm of the foundational shared frames (triple view,
    // dictionaries, encoded triples): they feed ~30 of the 50 queries,
    // and warming them at full session parallelism BEFORE the pool
    // starts keeps the first wave of concurrent queries from all
    // blocking on the same cold cache build.
    try {
      graft.core.TpchGraph.triples(spark, sfDir).count()
      graft.rdf.Dict.relations(spark, sfDir).count()
      graft.rdf.Dict.entities(spark, sfDir).count()
      graft.rdf.Dict.encodedTriples(spark, sfDir).count()
    } catch { case e: Throwable =>
      System.err.println(s"[verify] prewarm failed: ${e.getMessage}")
    }
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) => Future {
        val t0 = System.nanoTime()
        def secs = f"${(System.nanoTime() - t0) / 1e9}%.1fs"
        try {
          // repartition(1), NOT coalesce(1): coalesce narrows the whole
          // upstream computation into the single writer task (cp_mttkrp's
          // exploded hash terms ran 1-core, 13.6 s vs 3.3 s), while
          // repartition shuffles only the (small) final result and keeps
          // the computation at session parallelism.
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          name -> s"ok ($secs)"
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          name -> s"err ($secs): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      } }
    val status = Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Greppable per-query status (VERDICT r1 item 4).
    val statusJson = status
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/status.json"), statusJson)
    graft.core.Caches.clearAll()
    spark.stop()
  }
}
