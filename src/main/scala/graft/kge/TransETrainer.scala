package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, PortableHash}
import graft.kge.HingeTrainer._
import graft.rdf.Dict

/** #20: distributed TransE training on the TPC-H graph.
  *
  * Reference: src/main/scala/net/sansa_stack/ml/kge/model/TransE.scala:96-147
  * (minibatch SGD over MXNet NDArrays, margin ranking loss at
  * Functions.scala:14-18, object corruption at TransE.scala:92-93).
  *
  * The translational model behind [[HingeTrainer]]'s shared loss and
  * epoch loop: f(h, r, t) = ‖h+r−t‖² is a distance, so
  *   L = Σ max(0, γ + ‖h+r−t‖² − ‖h+r−t'‖²)
  * with gradients of an active hinge
  *   ∂/∂h = 2(h+r−t) − 2(h+r−t') = 2(t'−t),  ∂/∂r = same as ∂/∂h,
  *   ∂/∂t = −2(h+r−t),  ∂/∂t' = 2(h+r−t').
  * TransE's entries are the optimizer zoo (SGD, Adagrad, Adam, AdamW),
  * the train→eval run ([[TrainEval]]) and the checkpoint roundtrip.
  *
  * The reference's minibatch SGD samples random batches; the fixed
  * deterministic batch keeps the loss-descent property the spec asserts
  * while staying reproducible run-to-run (no RNG, no partition-order
  * dependence — gradient sums go through decimal terms).
  */
object TransETrainer {

  val Lr = 0.05

  private def hr: Column = zip_with(col("h"), col("r"), _ + _)

  val model: HingeModel = {
    val gh = zip_with(col("tn"), col("t"), (a, b) => lit(2.0) * (a - b))
    HingeModel(ent = Seq("TE" -> D), rel = Seq("TR" -> D), lr = Lr,
      distance = true,
      score = t => aggregate(zip_with(hr, t, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v),
      grads = (gh, zip_with(hr, col("t"), (a, b) => lit(-2.0) * (a - b)),
        zip_with(hr, col("tn"), (a, b) => lit(2.0) * (a - b)), gh),
      project = entityLong)
  }

  /** #20: plain full-batch SGD. Returns (epoch, loss) rows, loss
    * strictly decreasing for sane lr.
    */
  def train(spark: SparkSession, dir: String): DataFrame =
    trainImpl(spark, dir, "sgd")

  /** #46: Adagrad — per-parameter adaptive steps. The accumulated
    * squared gradient is one more array column CARRIED ON the embedding
    * DataFrame (state co-partitioned with the parameters it scales, the
    * way a parameter-server shard holds its optimizer slots — no extra
    * join, no driver state).
    */
  def trainAdagrad(spark: SparkSession, dir: String): DataFrame =
    trainImpl(spark, dir, "adagrad")

  /** #50: Adam — bias-corrected first/second moments, two slot arrays
    * on the embedding frames (same co-partitioned-state shape as
    * Adagrad; the bias-correction scalar depends only on the epoch, a
    * driver-side constant folded into the update expression).
    */
  def trainAdam(spark: SparkSession, dir: String): DataFrame =
    trainImpl(spark, dir, "adam")

  /** #275: AdamW — Adam with DECOUPLED weight decay (Loshchilov &
    * Hutter, ICLR 2019): the decay term `lr·λ·θ` subtracts directly
    * from the parameter instead of entering the gradient (L2-in-the-
    * gradient gets rescaled by Adam's 1/√v̂ — large-gradient
    * coordinates end up under-regularized, the paper's whole point).
    * For embeddings the decay is the norm control the reference applies
    * by projection (`normalize`, param.py:108-121) expressed as the
    * modern optimizer default. Same co-partitioned slot state as Adam;
    * the decay is one more fused term in the update expression.
    */
  def trainAdamW(spark: SparkSession, dir: String): DataFrame =
    trainImpl(spark, dir, "adamw")

  private def trainImpl(spark: SparkSession, dir: String, optimizer: String): DataFrame = {
    import spark.implicits._
    trainFrames(spark, dir, optimizer)._3.toDF("epoch", "loss")
  }

  /** #75: ONE closed-form full-batch SGD step — the epoch-1 ENTITY
    * embedding table of #20 in long (id, i, v) form, as [[HingeTrainer]]'s
    * single lazy step. The translational member of the trainer family's
    * hash-matched DuckDB CORRECTNESS rows (reference `_process_batch`,
    * base.py:180: score → hinge → gradient → update is one algebraic
    * pass): the other trainers share this exact gradient/update
    * machinery and differ only in the model and the optimizer state they
    * thread through it.
    *
    * Exact by construction: init embeddings and every gradient term are
    * dyadic rationals (all sums/products exact in double, any order);
    * the per-id mean runs through the scale-9 quantized sum; the only
    * non-dyadic arithmetic — `lr·g` and the final subtraction — is a
    * pair of correctly-rounded IEEE ops mirrored verbatim in the
    * oracle.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame =
    step(spark, dir, model)

  /** #80/#81: the same epoch-1 surface under Adagrad / Adam — from zero
    * slot state the optimizer updates are closed-form too (Adagrad:
    * v − lr·g/√(g²+ε); Adam: v − lr·(m̂/(√v̂+ε)) with first-step
    * moments (1−β)·g), so the OPTIMIZER algebra gets oracle-pinned the
    * way the gradient algebra is: every non-dyadic op in the chain
    * (squares of the quantized mean, √, divisions, the β-scaled
    * moments) is a correctly-rounded IEEE op mirrored in literal order,
    * with the β/bias constants interpolated from the SAME Scala doubles
    * the trainer folds into its update expressions.
    */
  def trainStepAdagrad(spark: SparkSession, dir: String): DataFrame =
    step(spark, dir, model, "adagrad")

  def trainStepAdam(spark: SparkSession, dir: String): DataFrame =
    step(spark, dir, model, "adam")

  /** #276: the AdamW first step, oracle-pinned like #81 — the closed
    * form is Adam's plus the decoupled decay `− lr·λ·θ₀`, so the decay
    * path (the one piece of optimizer algebra Adam's row cannot see)
    * gets its own hash-matched CORRECTNESS row.
    */
  def trainStepAdamW(spark: SparkSession, dir: String): DataFrame =
    step(spark, dir, model, "adamw")

  /** #293: TWO unrolled AdamW steps (round 7, VERDICT r6 item 8) — the
    * single-step oracles pin the gradient and the from-zero-state
    * closed forms, but never the piece that makes the full loops
    * trainers: OPTIMIZER STATE CARRYING ACROSS STEPS. This pins epoch
    * 2's moment accumulation (m₂ = β₁m₁ + (1−β₁)g₂), the
    * epoch-dependent bias corrections (1−βᵗ at t=2), the decay
    * applied to the ALREADY-STEPPED parameter, and the epoch-2
    * gradient computed from updated (non-dyadic) embeddings — whose
    * activation test the oracle mirrors through ORDERED list folds
    * (epoch 1's activation sums are dyadic/order-free; epoch 2's are
    * not, so the oracle reproduces the trainer's exact left-to-right
    * fold via `list_reduce`).
    */
  def trainStep2AdamW(spark: SparkSession, dir: String): DataFrame =
    twoSteps(spark, dir, "adamw")

  /** #331: TWO unrolled ADAGRAD steps (VERDICT r7 item 6) — the #293
    * state-carrying discipline applied to the reference's ACTUAL
    * optimizer (AdaGrad, python/sansa/ml/kbc/kge/param.py:89-93:
    * `a += g²; θ −= lr·g/√(a+ε)`): epoch 2's accumulator is epoch 1's
    * squared gradient PLUS the new one, so the oracle pins the
    * monotone step-shrinking behavior that defines AdaGrad across
    * steps, which the from-zero single-step row (#80) cannot see.
    */
  def trainStep2Adagrad(spark: SparkSession, dir: String): DataFrame =
    twoSteps(spark, dir, "adagrad")

  private def twoSteps(spark: SparkSession, dir: String,
      optimizer: String): DataFrame = {
    val (ent, rel, _) = trainFrames(spark, dir, optimizer, 2, Lr)
    entityLong(ent, rel)
  }

  /** Per-optimizer DuckDB update expression over the mean gradient
    * `gm.g` — mirrors the trainer's update zip_with chains verbatim
    * (zero slot state at epoch 1 folds to the closed forms below; the
    * Spark side's `0.0 + g·g` / `β·0.0 + (1−β)·g` are exact
    * identities, safe to simplify).
    */
  private def duckUpdate(optimizer: String): String = optimizer match {
    case "sgd" => s"e0.v - $Lr * gm.g"
    case "adagrad" =>
      s"e0.v - $Lr * (gm.g / sqrt(gm.g * gm.g + $Eps))"
    case "adam" =>
      val c1 = 1 - Beta1; val c2 = 1 - Beta2
      val bc1 = 1.0 - math.pow(Beta1, 1)
      val bc2 = 1.0 - math.pow(Beta2, 1)
      s"e0.v - $Lr * (((($c1) * gm.g) / $bc1) / " +
        s"(sqrt((($c2) * (gm.g * gm.g)) / $bc2) + $Eps))"
    case "adamw" =>
      // Adam's step, then the decoupled decay subtraction — the same
      // left-associated tree the Spark lambda builds.
      val c1 = 1 - Beta1; val c2 = 1 - Beta2
      val bc1 = 1.0 - math.pow(Beta1, 1)
      val bc2 = 1.0 - math.pow(Beta2, 1)
      s"e0.v - $Lr * (((($c1) * gm.g) / $bc1) / " +
        s"(sqrt((($c2) * (gm.g * gm.g)) / $bc2) + $Eps)) - " +
        s"${Lr * Wd} * e0.v"
  }

  val trainStepSql: String = trainStepSqlFor("sgd")
  val trainStepAdagradSql: String = trainStepSqlFor("adagrad")
  val trainStepAdamSql: String = trainStepSqlFor("adam")
  val trainStepAdamWSql: String = trainStepSqlFor("adamw")

  private def trainStepSqlFor(optimizer: String): String = {
    val mbHash = PortableHash.duck("'mb|' || sid || '|' || pid || '|' || oid")
    val negHash = PortableHash.duck("'neg|' || sid || '|' || pid || '|' || oid")
    s"""${Dict.preludeCtes},
       |n AS (SELECT COUNT(*) AS n_ent FROM entities),
       |mb AS MATERIALIZED (
       |  SELECT sid, pid, oid,
       |    CASE WHEN ($negHash % n_ent) = oid
       |         THEN (($negHash % n_ent) + 1) % n_ent
       |         ELSE $negHash % n_ent END AS nid
       |  FROM encoded, n
       |  WHERE $mbHash % ${TrainData.Mod} = 0
       |),
       |dims AS (SELECT unnest(range(0, $D)) AS i),
       |eids AS (SELECT DISTINCT id FROM (
       |  SELECT sid AS id FROM mb
       |  UNION ALL SELECT oid FROM mb
       |  UNION ALL SELECT nid FROM mb)),
       |e0 AS MATERIALIZED (
       |  SELECT id, i, ${PortableHash.duckDyadic("'TE|' || id || '|' || i")} AS v
       |  FROM eids, dims
       |),
       |r0 AS MATERIALIZED (
       |  SELECT id, i, ${PortableHash.duckDyadic("'TR|' || id || '|' || i")} AS v
       |  FROM (SELECT DISTINCT pid AS id FROM mb), dims
       |),
       |trip AS MATERIALIZED (
       |  SELECT mb.sid, mb.pid, mb.oid, mb.nid, eh.i,
       |    eh.v AS h, r0.v AS r, et.v AS t, en.v AS tn
       |  FROM mb
       |  JOIN e0 eh ON eh.id = mb.sid
       |  JOIN r0 ON r0.id = mb.pid AND r0.i = eh.i
       |  JOIN e0 et ON et.id = mb.oid AND et.i = eh.i
       |  JOIN e0 en ON en.id = mb.nid AND en.i = eh.i
       |),
       |act AS (
       |  SELECT sid, pid, oid, nid FROM trip
       |  GROUP BY 1, 2, 3, 4
       |  HAVING $Margin + SUM((h + r - t) * (h + r - t))
       |                 - SUM((h + r - tn) * (h + r - tn)) > 0
       |),
       |gc AS (
       |  SELECT tr.sid AS id, tr.i, 2.0 * (tr.tn - tr.t) AS g
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.oid, tr.i, -2.0 * (tr.h + tr.r - tr.t)
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.nid, tr.i, 2.0 * (tr.h + tr.r - tr.tn)
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |),
       |gm AS (
       |  SELECT id, i, ${Exact.duckAvg("g", 9)} AS g
       |  FROM gc GROUP BY id, i
       |)
       |SELECT e0.id, CAST(e0.i AS INT) AS i,
       |  COALESCE(${duckUpdate(optimizer)}, e0.v) AS v
       |FROM e0 LEFT JOIN gm ON gm.id = e0.id AND gm.i = e0.i""".stripMargin
  }

  /** #293 oracle: epoch 1 via the step-1 chain (dyadic, order-free),
    * epoch 2 with state threaded through and every non-dyadic reduction
    * mirrored in the trainer's own evaluation order:
    *  - e1/r1 carry (v, m1, v1) per (id, i); null-grad rows keep v and
    *    zero slots — exactly applyGrad's when(gvec.isNull) branch;
    *  - epoch-2 activation: per-triple `list(expr ORDER BY i)` +
    *    `list_reduce` — the identical left-to-right IEEE sequence as
    *    the trainer's `aggregate` fold (0.0 + x₁ ≡ x₁);
    *  - epoch-2 mean gradients through the scale-9 quantized avg
    *    (order-free), update/bias/decay expressions textual mirrors
    *    with all constants interpolated from the SAME Scala doubles.
    */
  val trainStep2AdamWSql: String = trainStep2SqlFor("adamw")
  val trainStep2AdagradSql: String = trainStep2SqlFor("adagrad")

  /** Two-step unrolled oracle (#293/#331): shared skeleton; the
    * optimizer plugs in its epoch-1 (from zero slots) and epoch-2
    * (carried slots m1/v1 — AdaGrad uses m1 as the accumulator, v1
    * stays 0) update expressions plus the slot carries, every
    * expression a textual mirror of the trainer's zip_with chains with
    * constants interpolated from the SAME Scala doubles.
    */
  private def trainStep2SqlFor(optimizer: String): String = {
    val mbHash = PortableHash.duck("'mb|' || sid || '|' || pid || '|' || oid")
    val negHash = PortableHash.duck("'neg|' || sid || '|' || pid || '|' || oid")
    val c1 = 1 - Beta1; val c2 = 1 - Beta2
    val bc1a = 1.0 - math.pow(Beta1, 1); val bc2a = 1.0 - math.pow(Beta2, 1)
    val bc1b = 1.0 - math.pow(Beta1, 2); val bc2b = 1.0 - math.pow(Beta2, 2)
    val lw = Lr * Wd
    // epoch-1 update from zero slot state over a mean gradient alias
    def up1(v: String, g: String): String = optimizer match {
      case "adamw" =>
        s"$v - $Lr * (((($c1) * $g) / $bc1a) / " +
          s"(sqrt((($c2) * ($g * $g)) / $bc2a) + $Eps)) - $lw * $v"
      case "adagrad" =>
        // a₁ = 0 + g² ≡ g² exactly; step = g/√(a₁+ε)
        s"$v - $Lr * ($g / sqrt(($g * $g) + $Eps))"
    }
    // epoch-2 update from carried slots
    def up2(v: String, m1: String, v1: String, g: String): String =
      optimizer match {
        case "adamw" =>
          s"$v - $Lr * ((($Beta1 * $m1 + ($c1) * $g) / $bc1b) / " +
            s"(sqrt(($Beta2 * $v1 + ($c2) * ($g * $g)) / $bc2b) + $Eps)) - " +
            s"$lw * $v"
        case "adagrad" =>
          // a₂ = a₁ + g₂²; step = g₂/√(a₂+ε) — same association as the
          // trainer's zip_with (accumulate first, then add ε)
          s"$v - $Lr * ($g / sqrt(($m1 + $g * $g) + $Eps))"
      }
    // slot carries out of epoch 1 (what e1/r1 persist for epoch 2)
    val slot1 = optimizer match {
      case "adamw" => s"($c1) * gm.g"
      case "adagrad" => "gm.g * gm.g"
    }
    val slot2 = optimizer match {
      case "adamw" => s"($c2) * (gm.g * gm.g)"
      case "adagrad" => "0.0"
    }
    val slot1r = slot1.replace("gm.g", "gmr.g")
    val slot2r = slot2.replace("gm.g", "gmr.g")
    s"""${Dict.preludeCtes},
       |n AS (SELECT COUNT(*) AS n_ent FROM entities),
       |mb AS MATERIALIZED (
       |  SELECT sid, pid, oid,
       |    CASE WHEN ($negHash % n_ent) = oid
       |         THEN (($negHash % n_ent) + 1) % n_ent
       |         ELSE $negHash % n_ent END AS nid
       |  FROM encoded, n
       |  WHERE $mbHash % ${TrainData.Mod} = 0
       |),
       |dims AS (SELECT unnest(range(0, $D)) AS i),
       |eids AS (SELECT DISTINCT id FROM (
       |  SELECT sid AS id FROM mb
       |  UNION ALL SELECT oid FROM mb
       |  UNION ALL SELECT nid FROM mb)),
       |e0 AS MATERIALIZED (
       |  SELECT id, i, ${PortableHash.duckDyadic("'TE|' || id || '|' || i")} AS v
       |  FROM eids, dims
       |),
       |r0 AS MATERIALIZED (
       |  SELECT id, i, ${PortableHash.duckDyadic("'TR|' || id || '|' || i")} AS v
       |  FROM (SELECT DISTINCT pid AS id FROM mb), dims
       |),
       |trip AS MATERIALIZED (
       |  SELECT mb.sid, mb.pid, mb.oid, mb.nid, eh.i,
       |    eh.v AS h, r0.v AS r, et.v AS t, en.v AS tn
       |  FROM mb
       |  JOIN e0 eh ON eh.id = mb.sid
       |  JOIN r0 ON r0.id = mb.pid AND r0.i = eh.i
       |  JOIN e0 et ON et.id = mb.oid AND et.i = eh.i
       |  JOIN e0 en ON en.id = mb.nid AND en.i = eh.i
       |),
       |act AS (
       |  SELECT sid, pid, oid, nid FROM trip
       |  GROUP BY 1, 2, 3, 4
       |  HAVING $Margin + SUM((h + r - t) * (h + r - t))
       |                 - SUM((h + r - tn) * (h + r - tn)) > 0
       |),
       |gc AS (
       |  SELECT tr.sid AS id, tr.i, 2.0 * (tr.tn - tr.t) AS g
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.oid, tr.i, -2.0 * (tr.h + tr.r - tr.t)
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.nid, tr.i, 2.0 * (tr.h + tr.r - tr.tn)
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |),
       |gm AS (
       |  SELECT id, i, ${Exact.duckAvg("g", 9)} AS g
       |  FROM gc GROUP BY id, i
       |),
       |gmr AS (
       |  SELECT tr.pid AS id, tr.i,
       |    ${Exact.duckAvg("2.0 * (tr.tn - tr.t)", 9)} AS g
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  GROUP BY tr.pid, tr.i
       |),
       |e1 AS MATERIALIZED (
       |  SELECT e0.id, e0.i,
       |    CASE WHEN gm.g IS NULL THEN e0.v ELSE ${up1("e0.v", "gm.g")} END AS v,
       |    COALESCE($slot1, 0.0) AS m1,
       |    COALESCE($slot2, 0.0) AS v1
       |  FROM e0 LEFT JOIN gm ON gm.id = e0.id AND gm.i = e0.i
       |),
       |r1 AS MATERIALIZED (
       |  SELECT r0.id, r0.i,
       |    CASE WHEN gmr.g IS NULL THEN r0.v ELSE ${up1("r0.v", "gmr.g")} END AS v,
       |    COALESCE($slot1r, 0.0) AS m1,
       |    COALESCE($slot2r, 0.0) AS v1
       |  FROM r0 LEFT JOIN gmr ON gmr.id = r0.id AND gmr.i = r0.i
       |),
       |trip2 AS MATERIALIZED (
       |  SELECT mb.sid, mb.pid, mb.oid, mb.nid, eh.i,
       |    eh.v AS h, r1.v AS r, et.v AS t, en.v AS tn
       |  FROM mb
       |  JOIN e1 eh ON eh.id = mb.sid
       |  JOIN r1 ON r1.id = mb.pid AND r1.i = eh.i
       |  JOIN e1 et ON et.id = mb.oid AND et.i = eh.i
       |  JOIN e1 en ON en.id = mb.nid AND en.i = eh.i
       |),
       |act2 AS (
       |  SELECT sid, pid, oid, nid FROM (
       |    SELECT sid, pid, oid, nid,
       |      list((h + r - t) * (h + r - t) ORDER BY i) AS dp,
       |      list((h + r - tn) * (h + r - tn) ORDER BY i) AS dn
       |    FROM trip2 GROUP BY 1, 2, 3, 4)
       |  WHERE $Margin + list_reduce(dp, (a, b) -> a + b)
       |               - list_reduce(dn, (a, b) -> a + b) > 0
       |),
       |gc2 AS (
       |  SELECT tr.sid AS id, tr.i, 2.0 * (tr.tn - tr.t) AS g
       |  FROM trip2 tr JOIN act2 USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.oid, tr.i, -2.0 * (tr.h + tr.r - tr.t)
       |  FROM trip2 tr JOIN act2 USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.nid, tr.i, 2.0 * (tr.h + tr.r - tr.tn)
       |  FROM trip2 tr JOIN act2 USING (sid, pid, oid, nid)
       |),
       |gm2 AS (
       |  SELECT id, i, ${Exact.duckAvg("g", 9)} AS g
       |  FROM gc2 GROUP BY id, i
       |)
       |SELECT e1.id, CAST(e1.i AS INT) AS i,
       |  CASE WHEN gm2.g IS NULL THEN e1.v
       |       ELSE ${up2("e1.v", "e1.m1", "e1.v1", "gm2.g")} END AS v
       |FROM e1 LEFT JOIN gm2 ON gm2.id = e1.id AND gm2.i = e1.i""".stripMargin
  }

  /** One full training run, cached per (session, dir, optimizer):
    * returns the FINAL (entity, relation) embedding frames (id, vec) —
    * both localCheckpointed, so reuse is a cache scan — plus the
    * per-epoch losses. The loss queries (#20/#46/#50) and the
    * train→eval composition ([[TrainEval]]) share one run this way
    * instead of training twice.
    */
  private val trainedCache = new scala.collection.concurrent.TrieMap[
    (SparkSession, String, String), (DataFrame, DataFrame, Seq[(Int, Double)])]
  graft.core.Caches.registerHook(() => trainedCache.clear())

  private[kge] def trainFrames(spark: SparkSession, dir: String,
      optimizer: String, epochs: Int = Epochs, lr: Double = Lr,
      freshNegs: Boolean = false)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) = {
    val (ent, rel, losses) =
      trainState(spark, dir, optimizer, epochs, lr, freshNegs)
    (ent.select(col("id"), col("vec")), rel.select(col("id"), col("vec")),
      losses)
  }

  /** Full trainer state — (id, vec, <slots>) frames WITH the optimizer
    * slots — for the checkpoint tier ([[Checkpoints]]): resuming
    * bit-identically requires the moments, not just the parameters.
    */
  private[kge] def trainState(spark: SparkSession, dir: String,
      optimizer: String, epochs: Int = Epochs, lr: Double = Lr,
      freshNegs: Boolean = false)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) =
    trainedCache.getOrElseUpdate(
      (spark, dir, s"$optimizer|$epochs|$lr|$freshNegs"),
      HingeTrainer.train(spark, dir, model, optimizer, epochs, lr, freshNegs))
}
