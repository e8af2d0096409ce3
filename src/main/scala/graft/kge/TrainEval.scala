package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PortableHash
import graft.functions.VectorFolds
import graft.rdf.Dict

/** #74: the reference's actual end-to-end user journey — train a TransE
  * model, then evaluate the TRAINED embeddings with the filtered ranking
  * protocol — composed from the existing trainer and eval machinery.
  *
  * Reference: src/main/scala/net/sansa_stack/ml/kge/Main.scala:14-27
  * (read → train → evaluate) and kge/hole.py:292,372-425
  * (`Evaluator.train` then `get_mrr` on the fitted model).
  *
  * Protocol:
  *  - train on [[TrainData.minibatch]] (the 1-in-4 pHash slice,
  *    `mb % 4 == 0`) via [[TransETrainer]] SGD at [[EvalEpochs]]/
  *    [[EvalLr]] with fresh per-epoch negatives (cached per config, so
  *    repeated calls don't retrain);
  *  - evaluate on a HELD-OUT slice (`mb % 4 == 1`, thinned by
  *    [[TestThin]] to keep the candidate fan-out at the #17/#18 scale)
  *    with the TransE score −‖h+r−t‖², filtered ranking against the
  *    type-constrained candidates of the FULL graph;
  *  - the trainer's freshNegs mode carries the FULL entity table (any
  *    id can be drawn as a corruption), so no test triple drops out;
  *    the eval's inner embedding joins would implement the standard
  *    unseen-entity filter for a subset-trained model;
  *  - report the SAME metrics for the hash-initialized embeddings
  *    (epoch 0) and the trained ones: the `trained` row beating the
  *    `init` row on MRR/mean-rank is the end-to-end proof that the
  *    trainer's output is consumable — and useful — to the eval stack.
  *
  * Output: (model, n_test, hits1, hits3, hits10, mrr, mean_rank), two
  * rows. Rows-only (no SQL oracle): the trained embeddings come from an
  * iterative multi-job loop, like the trainers themselves; the
  * improvement property is spec-asserted ([[graft.TrainEvalSpec]]).
  *
  * Scale: identical plan shape to [[RankingEval]] (broadcast candidate
  * sets, count-of-better rank in one groupBy, no windows, no cross
  * product); the trained embedding frames are id-keyed localCheckpoints
  * — exactly the layout a real trained model is served from.
  */
object TrainEval {

  /** Extra 1-in-thin filter on the held-out slice: `mb % 4 == 1` is a
    * quarter of the graph, far beyond the candidate fan-out the eval
    * slice is sized for (EvalMod = 199); thinning by 50 lands the test
    * set at the same ~1-in-200 scale.
    */
  val TestThin = 50

  /** Training config for the composition, swept at all three test SFs
    * (round 5): SGD, 20 epochs, lr 0.1, in the trainer's `freshNegs`
    * mode — [[HingeTrainer.FreshNegK]] fresh pHash corruptions per
    * positive per epoch plus Bordes-style entity renormalization, the
    * reference's actual sampling shape (TransE.scala:92-93 draws new
    * random corruptions per batch). Measured held-out MRR lift vs the
    * hash init: +49% at sf0.001, +26% at sf0.01 (Hits@10 +49%). At
    * sf0.1 the top of the ranking is noise-bound at this deliberately
    * small budget (MRR ±10% across configs ≈ a handful of rank-1
    * flips over 6.7k queries) while the bulk still moves the right way
    * (mean rank 5542 → 5450); a production run raises epochs, which is
    * a parameter here, not a shape change. Notable negative results
    * from the sweep, so they aren't re-tried: the #20 fixed single
    * negative moves MRR < 1% at any lr (the model only learns to beat
    * one corruption), and WITHOUT renormalization more epochs RANKS
    * WORSE than init (norm inflation satisfies the hinge while the
    * geometry degrades).
    */
  val EvalEpochs = 20
  val EvalLr = 0.1

  /** sf0.1 budget, pinned by the round-6 sweep (deterministic — every
    * config reproduces its metrics bit-for-bit):
    *
    *   epochs=20  lr=0.1 → MRR −6.2%   epochs=50  lr=0.2 → MRR +8.0%
    *   epochs=50  lr=0.1 → MRR −5.2%     (h@10 +15%, mean rank 5546→5461)
    *   epochs=100 lr=0.1 → MRR −4.0%   epochs=100 lr=0.2 → MRR +4.7%
    *
    * The finding: at sf0.1's 6.7k-query eval, lr 0.1 NEVER lifts the
    * top of the ranking at any epoch budget (mean rank improves, MRR
    * doesn't — steps too small to reorder rank-1 neighborhoods before
    * the margin saturates), while lr 0.2 separates cleanly at 50
    * epochs and overshoots by 100. Asserted by the env-gated sf0.1
    * TrainEvalSpec test (a ~5 min run; the default suite stays on
    * [[graft.TestSpark.sf]]).
    */
  val EvalEpochsSf01 = 50
  val EvalLrSf01 = 0.2

  private def transe(h: Column, r: Column, t: Column): Column =
    -VectorFolds.transeSqSum(h, r, t)

  /** Held-out encoded triples: the minibatch filter's complement slice,
    * thinned with an independent hash.
    */
  private def heldOut(spark: SparkSession, dir: String): DataFrame = {
    val mbKey = PortableHash.pHash(
      concat_ws("|", lit("mb"), col("sid"), col("pid"), col("oid")))
    val thinKey = PortableHash.pHash(
      concat_ws("|", lit("te"), col("sid"), col("pid"), col("oid")))
    Dict.encodedTriples(spark, dir)
      .filter(mbKey % TrainData.Mod === 1 && thinKey % TestThin === 0)
  }

  def trainEval(spark: SparkSession, dir: String,
      epochs: Int = EvalEpochs, lr: Double = EvalLr): DataFrame = {
    val (entT, relT, _) = TransETrainer.trainFrames(
      spark, dir, "sgd", epochs, lr, freshNegs = true)
    // epoch-0 baseline: the SAME ids with the trainer's init expression
    // (deterministic in the id, so this is exactly the pre-training state)
    val ent0 = entT.select(col("id"),
      HingeTrainer.initVec("TE", col("id")).as("v"))
    val rel0 = relT.select(col("id"),
      HingeTrainer.initVec("TR", col("id")).as("v"))
    val test = heldOut(spark, dir)
    val graph = Dict.encodedTriples(spark, dir)

    def metricsRow(label: String, ent: DataFrame, rel: DataFrame): DataFrame =
      RankingEval.ranksFrom(test, ent, rel, graph, transe)
        .agg(
          count(lit(1)).as("n_test"),
          (sum(when(col("rank") <= 1, 1).otherwise(0)).cast("double") /
            count(lit(1))).as("hits1"),
          (sum(when(col("rank") <= 3, 1).otherwise(0)).cast("double") /
            count(lit(1))).as("hits3"),
          (sum(when(col("rank") <= 10, 1).otherwise(0)).cast("double") /
            count(lit(1))).as("hits10"),
          graft.core.Exact.decAvg(lit(1.0) / col("rank")).as("mrr"),
          (sum("rank").cast("double") / count(lit(1))).as("mean_rank"))
        .select(lit(label).as("model"), col("n_test"), col("hits1"),
          col("hits3"), col("hits10"), col("mrr"), col("mean_rank"))

    metricsRow("init", ent0, rel0).unionByName(
      metricsRow("trained",
        entT.select(col("id"), col("vec").as("v")),
        relT.select(col("id"), col("vec").as("v"))))
  }
}
