package graft.kge

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** #330 checkpoint tier: the reference's save_epoch/load_epoch surface
  * (hole.py:253-258, keras/base.py:170-174). Two contracts:
  *  - ROUNDTRIP: save→load returns bit-identical state (params AND
  *    optimizer slots) — doubles survive parquet exactly;
  *  - RESUME: train k epochs, checkpoint, load, train one more ≡ the
  *    k+1-epoch uninterrupted run, bit for bit — the property that
  *    makes checkpointing USABLE (it requires the slots to be saved,
  *    the epoch numbering to continue for the 1−βᵗ bias corrections,
  *    and the loop to accept an arbitrary starting state).
  */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def keyed(df: DataFrame): Map[Long, (Seq[Double], Seq[Double], Seq[Double])] =
    df.collect().map { r =>
      r.getLong(0) -> (r.getSeq[Double](1), r.getSeq[Double](2), r.getSeq[Double](3))
    }.toMap

  test("save→load roundtrips the full trainer state bit-identically") {
    val (ent, rel, _) =
      TransETrainer.trainState(spark, TestSpark.sf, "adamw", 2)
    val out = graft.core.TempDirs.create("graft_ckpt_spec_")
    Checkpoints.save(ent, rel, out)
    val (entL, relL) = Checkpoints.load(spark, out)
    assert(keyed(entL) == keyed(ent.select("id", "vec", "s1", "s2")))
    assert(keyed(relL) == keyed(rel.select("id", "vec", "s1", "s2")))
  }

  test("resume after checkpoint is bit-identical to the uninterrupted run (AdamW)") {
    val (ent2, rel2, _) =
      TransETrainer.trainState(spark, TestSpark.sf, "adamw", 2)
    val out = graft.core.TempDirs.create("graft_ckpt_spec_")
    Checkpoints.save(ent2, rel2, out)
    val (entR, relR, _) =
      Checkpoints.resume(spark, TestSpark.sf, out, TransETrainer.model, "adamw",
        atEpoch = 2, moreEpochs = 1)
    val (ent3, rel3, _) =
      TransETrainer.trainState(spark, TestSpark.sf, "adamw", 3)
    assert(keyed(entR) == keyed(ent3.select("id", "vec", "s1", "s2")),
      "resumed entity frame differs from the uninterrupted 3-epoch run")
    assert(keyed(relR) == keyed(rel3.select("id", "vec", "s1", "s2")),
      "resumed relation frame differs from the uninterrupted 3-epoch run")
  }

  test("resume epoch numbering matters: restarting bias correction diverges") {
    // Negative control: resuming with the WRONG absolute epoch (as if
    // from scratch) must NOT reproduce the uninterrupted run — i.e. the
    // bit-identity above is earned by the epoch bookkeeping, not vacuous.
    val (ent2, rel2, _) =
      TransETrainer.trainState(spark, TestSpark.sf, "adamw", 2)
    val out = graft.core.TempDirs.create("graft_ckpt_spec_")
    Checkpoints.save(ent2, rel2, out)
    val (entWrong, _, _) =
      Checkpoints.resume(spark, TestSpark.sf, out, TransETrainer.model, "adamw",
        atEpoch = 0, moreEpochs = 1)
    val (ent3, _, _) =
      TransETrainer.trainState(spark, TestSpark.sf, "adamw", 3)
    assert(keyed(entWrong) != keyed(ent3.select("id", "vec", "s1", "s2")))
  }

  // ---- second model family (VERDICT r8 item 3): HolE — the model the
  // reference's save_epoch actually belongs to (kge/hole.py:253-258)

  private def hole(epochs: Int) = HingeTrainer.train(spark, TestSpark.sf,
    HolETrainer.model, "sgd", epochs, HolETrainer.Lr)

  private def vecKeyed(df: DataFrame): Map[Long, Seq[Double]] =
    df.select("id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  test("HolE resume after checkpoint is bit-identical to the uninterrupted run") {
    val (ent2, rel2, _) = hole(2)
    val out = graft.core.TempDirs.create("graft_ckpt_hole_")
    Checkpoints.save(ent2, rel2, out)
    val (entR, relR, _) =
      Checkpoints.resume(spark, TestSpark.sf, out, HolETrainer.model, "sgd",
        atEpoch = 2, moreEpochs = 1)
    val (ent3, rel3, _) = hole(3)
    assert(vecKeyed(entR) == vecKeyed(ent3),
      "resumed HolE entity frame differs from the uninterrupted 3-epoch run")
    assert(vecKeyed(relR) == vecKeyed(rel3),
      "resumed HolE relation frame differs from the uninterrupted 3-epoch run")
  }

  test("HolE negative control: resuming from the WRONG checkpoint diverges") {
    // a checkpoint taken one epoch early, resumed for one epoch, is the
    // 2-epoch state — it must NOT equal the 3-epoch run (bit-identity
    // above is earned by the loaded state, not vacuous)
    val (ent1, rel1, _) = hole(1)
    val out = graft.core.TempDirs.create("graft_ckpt_hole_neg_")
    Checkpoints.save(ent1, rel1, out)
    val (entWrong, _, _) =
      Checkpoints.resume(spark, TestSpark.sf, out, HolETrainer.model, "sgd",
        atEpoch = 1, moreEpochs = 1)
    val (ent3, _, _) = hole(3)
    assert(vecKeyed(entWrong) != vecKeyed(ent3))
  }
}
