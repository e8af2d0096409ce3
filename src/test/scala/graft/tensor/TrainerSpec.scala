package graft.tensor

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Loss-descent / fit-ascent specs for the iterative trainers (these are
  * the rows-only operators the DuckDB oracle can't check).
  */
class TrainerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CP-ALS fit is non-decreasing over sweeps") {
    val fits = CpAls.cpAls(spark, TestSpark.sf)
      .orderBy("iter").as[(Int, Double)].collect().map(_._2)
    assert(fits.length == CpAls.Iters + 1)
    fits.sliding(2).foreach { case Array(a, b) => assert(b >= a - 1e-9) }
    assert(fits.last > fits.head, "ALS should actually improve the fit")
  }

  test("RESCAL core update improves fit") {
    val fits = RescalAls.rescalAls(spark, TestSpark.sf)
      .orderBy("iter").as[(Int, Double)].collect().map(_._2)
    assert(fits.length == 2)
    assert(fits(1) > fits(0))
  }

  test("TransE full-batch training decreases the margin loss monotonically") {
    val losses = graft.kge.TransETrainer.train(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(losses.length == graft.kge.HingeTrainer.Epochs + 1)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a) }
  }

  test("TransE Adagrad training decreases the margin loss") {
    val losses = graft.kge.TransETrainer.trainAdagrad(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(losses.length == graft.kge.HingeTrainer.Epochs + 1)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a) }
  }

  test("TransE Adam training decreases the margin loss") {
    val losses = graft.kge.TransETrainer.trainAdam(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(losses.length == graft.kge.HingeTrainer.Epochs + 1)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a) }
  }

  test("TransE AdamW training decreases the margin loss and its " +
      "trajectory genuinely differs from plain Adam's (the decoupled " +
      "decay is live, not a no-op)") {
    val lossesW = graft.kge.TransETrainer.trainAdamW(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(lossesW.length == graft.kge.HingeTrainer.Epochs + 1)
    lossesW.sliding(2).foreach { case Array(a, b) => assert(b < a) }
    val lossesA = graft.kge.TransETrainer.trainAdam(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(lossesW.last != lossesA.last,
      "decoupled decay had no effect — AdamW degenerated to Adam")
  }

  test("HolE training decreases the margin loss") {
    val losses = graft.kge.HolETrainer.train(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(losses.length == graft.kge.HingeTrainer.Epochs + 1)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a) }
  }

  test("RESCAL training decreases the margin loss") {
    val losses = graft.kge.RescalTrainer.train(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(losses.length == graft.kge.HingeTrainer.Epochs + 1)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a) }
  }

  test("RESCAL train step emits d entity dims + d² matrix dims per id and moves them") {
    import graft.kge.RescalTrainer
    val step = RescalTrainer.trainStep(spark, TestSpark.sf).cache()
    val badE = step.filter($"kind" === "e").groupBy("id").count()
      .filter($"count" =!= graft.kge.HingeTrainer.D).count()
    val badW = step.filter($"kind" === "w").groupBy("id").count()
      .filter($"count" =!= RescalTrainer.DW).count()
    assert(badE == 0 && badW == 0)
    // the step must actually update: some entity AND some matrix entry
    // departs from its dyadic init value (k/128 grid ⇒ exact compare)
    val moved = step.filter(
      ($"v" * 128.0) =!= org.apache.spark.sql.functions.floor($"v" * 128.0))
      .groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(moved.getOrElse("e", 0L) > 0, "no entity embedding moved")
    assert(moved.getOrElse("w", 0L) > 0, "no relation matrix entry moved")
    step.unpersist()
  }

  test("MTTKRP output covers every subject id with R rows each") {
    val m = Mttkrp.cpMttkrp(spark, TestSpark.sf)
    val bad = m.groupBy("sid").count()
      .filter($"count" =!= Mttkrp.R).count()
    assert(bad == 0)
  }
  test("Tucker core: full R³ grid, one cell reproducible by driver-side dyadic sum") {
    val out = Tucker.tuckerCore(spark, TestSpark.sf).cache()
    assert(out.count() == Tucker.R * Tucker.R * Tucker.R)
    val trips = graft.rdf.Dict.encodedTriples(spark, TestSpark.sf)
      .select("sid", "pid", "oid").as[(Long, Long, Long)].collect()
    val dy = graft.core.PortableHash.dyadicJvm _
    val expected = trips.map { case (s, p, o) =>
      (dy(s"TKA|$s|1") * dy(s"TKB|$p|2")) * dy(s"TKC|$o|3")
    }.sum
    val got = out.filter($"a" === 1 && $"b" === 2 && $"c" === 3)
      .select("g").as[Double].head()
    assert(got == expected) // dyadic sums: exact equality
    out.unpersist()
  }

  test("TTM emits C values per nonzero (i,j) fiber, reproducible by hand") {
    val out = Ttm.ttm(spark, TestSpark.sf).cache()
    val fibers = graft.rdf.Dict.encodedTriples(spark, TestSpark.sf)
      .select("sid", "oid").distinct().count()
    assert(out.count() == fibers * Ttm.C)
    // hand-check one fiber: sum of dyadic M entries over its relations
    val (sid, oid) = out.select("sid", "oid").as[(Long, Long)].head()
    val pids = graft.rdf.Dict.encodedTriples(spark, TestSpark.sf)
      .filter($"sid" === sid && $"oid" === oid).select("pid").as[Long].collect()
    val expected = pids.map(p =>
      graft.core.PortableHash.dyadicJvm(s"TTM|$p|0")).sum
    val got = out.filter($"sid" === sid && $"oid" === oid && $"c" === 0)
      .select("y").as[Double].head()
    assert(got == expected) // dyadic sums: exact equality
  }
}
