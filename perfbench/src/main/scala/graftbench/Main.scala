package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One JVM's share of a benchmark run:
  *
  *   Main --workload <name> --input <dir> --seed <n> --trace <0|1> --work <dir>
  *
  * Sets up the session, runs the workload's timed body once on the generated
  * input directory, checks its outputs and prints, as the last stdout
  * line, one JSON object with the raw measurements (`perfbench/run.py`
  * aggregates them over JVMs and runs). With `--trace 1` every call also
  * carries a Spark job group, and the per-layer figures are filled in.
  * Spans go to `<work>/traces`. Exits 1 when a call or an output check
  * failed.
  */
object Main {

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workload.all.contains(w), s"unknown workload '$w'; one of " +
      Workload.all.keys.toSeq.sorted.mkString(", "))
    Args(w, Paths.get(m("input")), m.getOrElse("seed", "1").toLong,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("work", ".perfbench")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val h = new Harness(args)
    val code =
      try {
        val out = Workload.all(args.workload).run(h, args.input, h.start())
        writeTrace(h, out)
        println(result(h, out))
        if (h.failed == 0) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          System.err.println(s"perfbench: ${args.workload} failed: $e")
          1
      } finally h.stop()
    sys.exit(code)
  }

  private def result(h: Harness, out: Outcome): String = {
    val r = out.rep
    // Journeys use the derived tier write-once: the RDDs the body
    // persisted and the peak storage it held.
    val layers =
      if (!h.args.traced) Map.empty[String, Double]
      else r.layers ++ Map("core.cache.persisted_rdds" -> r.persisted.toDouble,
        "core.cache.storage_mb" -> r.storageMb) ++ out.layers
    Json.obj(Seq(
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "failures" -> h.failures.map(Json.str).mkString("[", ", ", "]"),
      "setup_s" -> Json.num(h.setupS),
      "wall_s" -> Json.num(r.wallS),
      "cpu_s" -> Json.num(r.cpuS),
      "storage_mb" -> Json.num(r.storageMb),
      "calls_s" -> Json.num(r.callsS),
      "digest" -> Json.str(r.digest),
      "report" -> Json.obj(out.report.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.num(v) })))
  }

  /** The body's spans, written once at the end of the run. */
  private def writeTrace(h: Harness, out: Outcome): Unit = {
    val a = h.args
    val t = out.tracer
    val dir = a.work.resolve("traces")
    Files.createDirectories(dir)
    val spans = t.spans.map(s => Json.obj(Seq("id" -> s.id.toString,
      "name" -> Json.str(s.name), "detail" -> Json.str(s.detail),
      "parent" -> s.parent.toString, "start_ms" -> s.startMs.toString,
      "end_ms" -> s.endMs.toString, "seconds" -> Json.num(s.seconds),
      "self_seconds" -> Json.num(t.selfSeconds(s)))))
    val name = s"${a.workload}-seed${a.seed}-trace${if (a.traced) 1 else 0}.json"
    Files.write(dir.resolve(name), (Json.obj(Seq("workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString, "traced" -> a.traced.toString,
      "wall_s" -> Json.num(out.rep.wallS),
      "spans" -> spans.mkString("[\n", ",\n", "]"))) + "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** An object from already-encoded values. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
