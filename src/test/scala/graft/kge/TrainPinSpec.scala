package graft.kge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Caches

/** Bit-for-bit pins of the hinge trainers at sf0.001: TransE's 3-epoch
  * (epoch, loss) rows of every optimizer and its two train→eval rows,
  * recorded when its epoch loop still persisted its joined batch and
  * scanned it once for the loss and once per gradient use; the other
  * four models' loss rows and every trainStep output, recorded when each
  * model still had its own loop and step plan. Any change to the shared
  * loop's arithmetic — the order of a fold, the quantised loss sum, the
  * activation test — moves at least one of these doubles.
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

  /** Raw bits of the 3-epoch (epoch, loss) rows of the other four
    * models, recorded when each still ran its own epoch loop.
    */
  private val pinnedModels = Seq[(String, () => DataFrame, Seq[Long])](
    ("DistMult", () => DistMultTrainer.train(spark, TestSpark.sf),
      Seq(4659191672104947416L, 4658949145698174492L, 4658709259834546371L,
        4658470478129082164L)),
    ("HolE", () => HolETrainer.train(spark, TestSpark.sf),
      Seq(4659362992029842264L, 4658458995383795532L, 4657663424169813186L,
        4656936535339442566L)),
    ("ComplEx", () => ComplExTrainer.train(spark, TestSpark.sf),
      Seq(4659391915743140121L, 4658658709688503323L, 4657958916741101521L,
        4657283771712985341L)),
    ("RESCAL", () => RescalTrainer.train(spark, TestSpark.sf),
      Seq(4659794437355730450L, 4658324674603518463L, 4657104241237786634L,
        4655475679159181145L)))

  for ((model, run, want) <- pinnedModels)
    test(s"$model: the 3-epoch loss rows are bit-identical to the pin") {
      val got = run().collect().map(r =>
        (r.getInt(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
      assert(got.toSeq == want.zipWithIndex.map(_.swap))
    }

  private def bits(v: Any): Long = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case l: Long => l
    case i: Int => i.toLong
    case s: String => s.hashCode.toLong
  }

  /** Order-free bit digest of a frame: (row count, the wrapping sum over
    * rows of each row's fields folded by their raw bits).
    */
  private def digest(df: DataFrame): (Int, Long) = {
    val rows = df.collect()
    (rows.length, rows.map(_.toSeq.foldLeft(17L)((a, v) => a * 31 + bits(v))).sum)
  }

  /** Digests of every trainStep output, recorded when the four
    * single-step models still built their own plans and TransE's steps
    * ran its epoch loop.
    */
  private val pinnedSteps = Seq[(String, () => DataFrame, (Int, Long))](
    ("TransE", () => TransETrainer.trainStep(spark, TestSpark.sf),
      (14848, -4416667166703274563L)),
    ("TransE Adagrad", () => TransETrainer.trainStepAdagrad(spark, TestSpark.sf),
      (14848, 109760394499692641L)),
    ("TransE Adam", () => TransETrainer.trainStepAdam(spark, TestSpark.sf),
      (14848, 109760997857899995L)),
    ("TransE AdamW", () => TransETrainer.trainStepAdamW(spark, TestSpark.sf),
      (14848, 66716683335027137L)),
    ("TransE 2-step AdamW", () => TransETrainer.trainStep2AdamW(spark, TestSpark.sf),
      (14848, -8400516691571205353L)),
    ("TransE 2-step Adagrad",
      () => TransETrainer.trainStep2Adagrad(spark, TestSpark.sf),
      (14848, -8616744568353402907L)),
    ("DistMult", () => DistMultTrainer.trainStep(spark, TestSpark.sf),
      (14848, 3019186470999359303L)),
    ("HolE", () => HolETrainer.trainStep(spark, TestSpark.sf),
      (14848, 3062241276455245583L)),
    ("ComplEx", () => ComplExTrainer.trainStep(spark, TestSpark.sf),
      (14848, 8819685306924211827L)),
    ("RESCAL", () => RescalTrainer.trainStep(spark, TestSpark.sf),
      (15168, -1735216589677862786L)))

  test("every trainStep output is bit-identical to the pin") {
    val got = pinnedSteps.map { case (name, step, _) => name -> digest(step()) }
    assert(got == pinnedSteps.map { case (name, _, want) => name -> want })
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
    def loop(e: org.apache.spark.sql.DataFrame, epochs: Int) =
      HingeTrainer.epochLoop(spark, sf, TransETrainer.model, "sgd", e, rel,
        1, epochs, TransETrainer.Lr, freshNegs = false)
    // zero epochs run only the closing full-batch loss pass
    val (_, _, full) = loop(entNaN, 0)
    val (entOut, relOut, fused) = loop(entNaN, 1)
    Seq(entOut, relOut).foreach(Caches.releaseCheckpoint)
    val (_, _, clean) = loop(ent, 0)
    assert(full.map(_._1) == Seq(0) && fused.map(_._1) == Seq(0, 1))
    // the NaN rows are in the batch and the run reads as diverged in the
    // closing pass and in the fused epoch loss alike ...
    assert(!clean.head._2.isNaN)
    assert(full.head._2.isNaN && fused.head._2.isNaN)
    // ... and reach the fused loss exactly as they reach the full pass
    assert(java.lang.Double.doubleToLongBits(fused.head._2) ==
      java.lang.Double.doubleToLongBits(full.head._2))
  }
}
