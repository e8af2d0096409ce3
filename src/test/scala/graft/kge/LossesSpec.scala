package graft.kge

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.rdf.{Dict, Rdf}
import graft.tensor.BlockPartition

/** Semantics specs for the loss/activation/sampler/partitioner block
  * added in round 3 (#39-44).
  */
class LossesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ranking loss is non-negative and bounded by margin + max |score| span") {
    val row = Losses.rankingLoss(spark, TestSpark.sf).head()
    val (n, total, mean) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2))
    assert(n > 0)
    assert(total >= 0.0 && mean >= 0.0)
    assert(math.abs(mean - total / n) < 1e-6)
  }

  test("logistic loss counts two labeled scores per pair and is positive") {
    val nPairs = Losses.rankingLoss(spark, TestSpark.sf).head().getLong(0)
    val row = Losses.logisticLoss(spark, TestSpark.sf).head()
    assert(row.getLong(0) == 2 * nPairs)
    assert(row.getDouble(1) > 0.0) // softplus > 0 everywhere
  }

  test("activations stay in range: sigmoid in (0,1), tanh in (-1,1)") {
    val bad = Losses.activations(spark, TestSpark.sf)
      .filter($"sigmoid" <= 0.0 || $"sigmoid" >= 1.0 ||
        $"tanh" <= -1.0 || $"tanh" >= 1.0).count()
    assert(bad == 0)
    // TransE scores are ≤ 0 ⇒ sigmoid ≤ 1/2, tanh ≤ 0.
    val wrongSide = Losses.activations(spark, TestSpark.sf)
      .filter($"sigmoid" > 0.5 || $"tanh" > 0.0).count()
    assert(wrongSide == 0)
  }

  test("LCWA negatives: every (neg_sid, pid) is an observed head pair " +
    "and no negative equals its source subject") {
    val neg = Rdf.negSampleLcwa(spark, TestSpark.sf)
    val heads = Dict.encodedTriples(spark, TestSpark.sf)
      .select($"sid".as("neg_sid"), $"pid").distinct()
    assert(neg.join(heads, Seq("neg_sid", "pid"), "left_anti").count() == 0)
    assert(neg.filter($"neg_sid" === $"sid").count() == 0)
    // it's a strict subset of the plain corruption (the filter bites)
    assert(neg.count() < Rdf.negSampleCorrupt(spark, TestSpark.sf).count())
  }

  test("block partition: blocks tile the tensor (nnz sums to triple count) " +
    "and each block's coordinate ranges fit inside one block") {
    val enc = Dict.encodedTriples(spark, TestSpark.sf)
    val blocks = BlockPartition.blockPartition(spark, TestSpark.sf)
    assert(blocks.agg(org.apache.spark.sql.functions.sum($"nnz"))
      .head().getLong(0) == enc.count())
    import org.apache.spark.sql.functions.expr
    val straddling = blocks.filter(
      expr(s"(max_sid div ${BlockPartition.PsI}) != (min_sid div ${BlockPartition.PsI})" +
        s" or (max_oid div ${BlockPartition.PsJ}) != (min_oid div ${BlockPartition.PsJ})" +
        s" or (max_pid div ${BlockPartition.PsK}) != (min_pid div ${BlockPartition.PsK})"))
    assert(straddling.count() == 0)
  }

  test("DistMult full-batch training decreases the margin loss") {
    val losses = DistMultTrainer.train(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(losses.length == HingeTrainer.Epochs + 1)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a) }
  }

  test("ComplEx full-batch training decreases the margin loss") {
    val losses = ComplExTrainer.train(spark, TestSpark.sf)
      .orderBy("epoch").as[(Int, Double)].collect().map(_._2)
    assert(losses.length == HingeTrainer.Epochs + 1)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a) }
  }
}
