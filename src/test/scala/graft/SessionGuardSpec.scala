package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session builder and one listener: every harness builds its
  * session through `core/Session` and counts jobs through
  * `core/QueryMetrics`, so neither a copied builder (with its own
  * hard-coded core count) nor a hand-rolled counter can come back.
  */
class SessionGuardSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def offenders(roots: Seq[String], pattern: scala.util.matching.Regex,
      allowed: Path): Seq[String] =
    roots.flatMap(sources).filterNot(_ == allowed).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}"
      }
    }

  private val roots = Seq("src/main/scala", "src/test/scala")
  private val session = Paths.get("src/main/scala/graft/core/Session.scala")

  test("the guard scans the sources") {
    assert(roots.flatMap(sources).size > 100)
    assert(Files.exists(session))
  }

  test("no SparkSession builder outside core/Session.scala") {
    val found = offenders(roots, "SparkSession\\.builder".r, session)
    assert(found.isEmpty, s"build the session with graft.core.Session: ${found.mkString(", ")}")
  }

  test("no fixed local[N] master outside core/Session.scala") {
    val found = offenders(roots, "local\\[\\d+\\]".r, session)
    assert(found.isEmpty, s"take the core count from graft.core.Session: ${found.mkString(", ")}")
  }

  test("QueryMetrics is the only SparkListener in main code") {
    val found = offenders(Seq("src/main/scala"), "(extends|new) SparkListener\\b".r,
      Paths.get("src/main/scala/graft/core/QueryMetrics.scala"))
    assert(found.isEmpty, s"count with graft.core.QueryMetrics: ${found.mkString(", ")}")
  }
}
