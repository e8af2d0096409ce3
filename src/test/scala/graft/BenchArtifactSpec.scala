package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's trailing-reference plumbing (VERDICT r9 items
  * 2/8 + ADVICE): real JSON parse, sf guard, and malformed-input
  * behavior — the pieces whose silent failure modes caused r9's 13
  * phantom regressions. r11 adds the cpus field (VERDICT r10 item 1:
  * the driver's 8-cpu leg retimed itself against the 32-cpu artifact
  * into a timeout).
  */
class BenchArtifactSpec extends AnyFunSuite {

  private def tmp(content: String): java.nio.file.Path = {
    val p = Files.createTempFile("graft_bench_spec_", ".json")
    Files.writeString(p, content)
    p
  }

  test("parseArtifact reads sf, cpus and per-query seconds from a real artifact") {
    val p = tmp("""{"metric":"total","value":3.5,"unit":"sec",
      "queries":{"q1_agg":1.25,"dedup_exact":2.25},
      "errors":{},"cpus":32,"sf":"/root/testdata/sf0.1"}""")
    try {
      val Some((sf, cpus, qs)) = Bench.parseArtifact(p)
      assert(sf == "/root/testdata/sf0.1")
      assert(cpus.contains(32))
      assert(qs == Map("q1_agg" -> 1.25, "dedup_exact" -> 2.25))
    } finally Files.delete(p)
  }

  test("parseArtifact reports no cpus for pre-r11 artifacts (no retime reference)") {
    val p = tmp("""{"queries":{"q1_agg":1.25},"sf":"/root/testdata/sf0.1"}""")
    try {
      val Some((_, cpus, _)) = Bench.parseArtifact(p)
      assert(cpus.isEmpty,
        "an artifact without cpus must parse as cpus-unknown, not default")
    } finally Files.delete(p)
  }

  test("parseArtifact survives formats the old regex silently mangled") {
    // nested objects inside "queries"' lexical neighborhood (the regex
    // stopped at the first '}'), plus reordered keys
    val p = tmp("""{"sf":"X","retimed":{"a":{"marathon":9.0,"solo":1.0}},
      "queries":{"q":0.5}}""")
    try {
      val Some((sf, _, qs)) = Bench.parseArtifact(p)
      assert(sf == "X" && qs == Map("q" -> 0.5))
    } finally Files.delete(p)
  }

  test("parseArtifact yields None on garbage, absence, and non-object queries") {
    val garbage = tmp("""not json at all""")
    val noQueries = tmp("""{"sf":"X","queries":[1,2]}""")
    try {
      assert(Bench.parseArtifact(garbage).isEmpty)
      assert(Bench.parseArtifact(Paths.get("/nonexistent/x.json")).isEmpty)
      assert(Bench.parseArtifact(noQueries).isEmpty)
    } finally { Files.delete(garbage); Files.delete(noQueries) }
  }

  test("headline names all registered; round-10 additions present") {
    Bench.headline.foreach(n =>
      assert(SparkEntry.queries.contains(n), s"headline '$n' unregistered"))
    assert(Bench.headline.contains("embed_hamming_mih"))
  }

  test("the headline derived from the registry is the hand-kept 277-name board") {
    // size and md5 of the newline-joined sorted names of the hand-kept
    // list this derivation replaced
    val names = Bench.headline.sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(names.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(names.size == 277)
    assert(md5 == "253efb1f78c161abe4b1e312d12a25db")
    assert(Bench.NotHeadline.subsetOf(SparkEntry.queries.keySet),
      "an excluded name is not registered")
  }
}
