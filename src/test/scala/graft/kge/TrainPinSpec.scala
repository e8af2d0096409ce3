package graft.kge

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Caches

/** Bit-for-bit pins of the TransE training path at sf0.001: the 3-epoch
  * (epoch, loss) rows of every optimizer and the two train→eval rows,
  * recorded when the epoch loop still persisted its joined batch and
  * scanned it once for the loss and once per gradient use. Any change to
  * the loop's arithmetic — the order of a fold, the quantised loss sum,
  * the activation test — moves at least one of these doubles.
  */
class TrainPinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def losses(optimizer: String): Seq[(Int, Double)] =
    TransETrainer.trainFrames(spark, TestSpark.sf, optimizer)._3

  private val pinned = Map(
    "sgd" -> Seq(4562.544684, 2582.414621, 1332.660789, 634.215175),
    "adagrad" -> Seq(4562.544684, 2824.474796, 1890.065072, 1282.216773),
    "adam" -> Seq(4562.544684, 2824.481004, 1631.034864, 883.884746),
    "adamw" -> Seq(4562.544684, 2822.625778, 1628.84812, 882.016864))

  for ((optimizer, want) <- pinned)
    test(s"$optimizer: the 3-epoch loss curve is bit-identical to the pin") {
      assert(losses(optimizer) == want.zipWithIndex.map(_.swap))
    }

  test("trainEval: both rows are bit-identical to the pin") {
    val rows = TrainEval.trainEval(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(rows("init") == Seq(75L, 0.0, 0.09333333333333334, 0.32,
      0.08962832, 67.0))
    assert(rows("trained") == Seq(75L, 0.05333333333333334,
      0.17333333333333334, 0.32, 0.14035588, 70.98666666666666))
  }

  test("a NaN state: the fused epoch loss equals the full-batch loss pass") {
    val sf = TestSpark.sf
    // views, not the cached checkpoints: the loop frees a locally
    // checkpointed initial state
    val (ent, rel) = TransETrainer.trainState(spark, sf, "sgd", epochs = 1) match {
      case (e, r, _) => (e.select("*"), r.select("*"))
    }
    // one entity of the batch diverged: every hinge it takes part in is NaN
    val bad = ent.agg(min(col("id"))).head().get(0)
    val entNaN = ent.withColumn("vec", when(col("id") === lit(bad),
      transform(col("vec"), _ => lit(Double.NaN))).otherwise(col("vec")))
    // zero epochs run only the closing full-batch loss pass
    val (_, _, full) = TransETrainer.epochLoop(spark, sf, "sgd", entNaN, rel,
      1, 0, TransETrainer.Lr, freshNegs = false)
    val (entOut, relOut, fused) = TransETrainer.epochLoop(spark, sf, "sgd",
      entNaN, rel, 1, 1, TransETrainer.Lr, freshNegs = false)
    Seq(entOut, relOut).foreach(Caches.releaseCheckpoint)
    val (_, _, clean) = TransETrainer.epochLoop(spark, sf, "sgd", ent, rel,
      1, 0, TransETrainer.Lr, freshNegs = false)
    // the NaN rows are in the batch (they move the loss) ...
    assert(full.head._2 != clean.head._2)
    assert(full.map(_._1) == Seq(0) && fused.map(_._1) == Seq(0, 1))
    // ... and reach the fused loss exactly as they reach the full pass
    assert(java.lang.Double.doubleToLongBits(fused.head._2) ==
      java.lang.Double.doubleToLongBits(full.head._2))
  }
}
