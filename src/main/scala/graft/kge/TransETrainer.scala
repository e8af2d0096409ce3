package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Caches, Exact, PortableHash}
import graft.rdf.Dict

/** #20: distributed TransE training on the TPC-H graph.
  *
  * Reference: src/main/scala/net/sansa_stack/ml/kge/model/TransE.scala:96-147
  * (minibatch SGD over MXNet NDArrays, margin ranking loss at
  * Functions.scala:14-18, object corruption at TransE.scala:92-93).
  *
  * Spark-first reformulation: deterministic-minibatch gradient descent
  * (the reference's minibatch shape with a pHash-fixed batch, see
  * [[TrainData]]) on the margin ranking loss
  *   L = Σ max(0, γ + ‖h+r−t‖² − ‖h+r−t'‖²)
  * with one pHash-derived corrupted object t' per triple. Per epoch:
  *  - join triples to the current embedding DataFrames on id (the only
  *    shuffles; embeddings NEVER reach the driver);
  *  - per-triple gradient contributions per slot (h, r, t, t');
  *  - explode to (id, dim, g), groupBy (id, dim) — gradient accumulation
  *    is a keyed agg, exactly how a parameter-server shard would do it;
  *  - the same groupBy carries the epoch's loss as one more group, so
  *    the joined batch is aggregated once and never persisted;
  *  - update = join embeddings ⋈ grads, vec ← vec − lr·g.
  * `localCheckpoint` after each epoch truncates the lineage (the
  * iterative-DataFrame pattern); the superseded generation and the
  * gradient frame are freed as soon as the new state exists.
  *
  * The reference's minibatch SGD samples random batches; the fixed
  * deterministic batch keeps the loss-descent property the spec asserts
  * while staying reproducible run-to-run (no RNG, no partition-order
  * dependence — gradient sums go through decimal terms).
  */
object TransETrainer {

  val D = 8
  val Margin = 1.0
  val Lr = 0.05
  val Epochs = 3

  private[kge] def initVec(kind: String, id: Column): Column =
    array((0 until D).map(i => PortableHash.dyadic(
      concat_ws("|", lit(kind), id.cast("string"), lit(i.toString)))): _*)

  /** Optimizer constants (the reference's optimizer zoo —
    * TransE.scala:47-149 — selects SGD/Adagrad/Adam by name).
    */
  val Eps = 1e-8
  val Beta1 = 0.9
  val Beta2 = 0.999

  /** AdamW decoupled weight-decay coefficient λ. */
  val Wd = 0.01

  /** Corruptions per positive per epoch in freshNegs mode. */
  val FreshNegK = 4

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
    * embedding table of #20 in long (id, i, v) form. The single trainer
    * surface that IS SQL-expressible (reference `_process_batch`,
    * base.py:180: score → hinge → gradient → update is one algebraic
    * pass), which gives the iterative family a hash-matched DuckDB
    * CORRECTNESS row: the other trainers share this exact
    * gradient/update machinery and differ only in the optimizer state
    * they thread through it.
    *
    * Exact by construction: init embeddings and every gradient term are
    * dyadic rationals (all sums/products exact in double, any order);
    * the per-id mean runs through the scale-9 quantized sum; the only
    * non-dyadic arithmetic — `lr·g` and the final subtraction — is a
    * pair of correctly-rounded IEEE ops mirrored verbatim in the
    * oracle.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame =
    trainStepFor(spark, dir, "sgd")

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
    trainStepFor(spark, dir, "adagrad")

  def trainStepAdam(spark: SparkSession, dir: String): DataFrame =
    trainStepFor(spark, dir, "adam")

  /** #276: the AdamW first step, oracle-pinned like #81 — the closed
    * form is Adam's plus the decoupled decay `− lr·λ·θ₀`, so the decay
    * path (the one piece of optimizer algebra Adam's row cannot see)
    * gets its own hash-matched CORRECTNESS row.
    */
  def trainStepAdamW(spark: SparkSession, dir: String): DataFrame =
    trainStepFor(spark, dir, "adamw")

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
  def trainStep2AdamW(spark: SparkSession, dir: String): DataFrame = {
    val (ent, _, _) = trainFrames(spark, dir, "adamw", 2, Lr)
    ent.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
  }

  /** #331: TWO unrolled ADAGRAD steps (VERDICT r7 item 6) — the #293
    * state-carrying discipline applied to the reference's ACTUAL
    * optimizer (AdaGrad, python/sansa/ml/kbc/kge/param.py:89-93:
    * `a += g²; θ −= lr·g/√(a+ε)`): epoch 2's accumulator is epoch 1's
    * squared gradient PLUS the new one, so the oracle pins the
    * monotone step-shrinking behavior that defines AdaGrad across
    * steps, which the from-zero single-step row (#80) cannot see.
    */
  def trainStep2Adagrad(spark: SparkSession, dir: String): DataFrame = {
    val (ent, _, _) = trainFrames(spark, dir, "adagrad", 2, Lr)
    ent.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
  }

  private def trainStepFor(spark: SparkSession, dir: String,
      optimizer: String): DataFrame = {
    val (ent, _, _) = trainFrames(spark, dir, optimizer, 1, Lr)
    ent.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
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

  /** Full trainer state — (id, vec, s1, s2) frames WITH the optimizer
    * slots — for the checkpoint tier ([[Checkpoints]]): resuming
    * bit-identically requires the moments, not just the parameters.
    */
  private[kge] def trainState(spark: SparkSession, dir: String,
      optimizer: String, epochs: Int = Epochs, lr: Double = Lr,
      freshNegs: Boolean = false)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) =
    trainedCache.getOrElseUpdate(
      (spark, dir, s"$optimizer|$epochs|$lr|$freshNegs"),
      trainRun(spark, dir, optimizer, epochs, lr, freshNegs))

  private def trainRun(spark: SparkSession, dir: String,
      optimizer: String, epochs: Int, lr: Double, freshNegs: Boolean)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) = {
    val x0 = TrainData.minibatch(spark, dir)
    // optimizer slot arrays: s1 = Adagrad accumulator / Adam 1st moment,
    // s2 = Adam 2nd moment (unused by sgd/adagrad)
    val zeros = array((0 until D).map(_ => lit(0.0)): _*)
    // freshNegs needs every entity embeddable (any id can be drawn as a
    // corruption) — the production layout anyway; the fixed batch only
    // ever touches its own three id sets.
    val entIds =
      if (freshNegs) Dict.entities(spark, dir).select(col("id"))
      else x0.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
        .distinct()
    val ent0 = entIds.withColumn("vec", initVec("TE", col("id")))
      .withColumn("s1", zeros).withColumn("s2", zeros).localCheckpoint()
    val rel0 = x0.select(col("pid").as("id")).distinct()
      .withColumn("vec", initVec("TR", col("id")))
      .withColumn("s1", zeros).withColumn("s2", zeros).localCheckpoint()
    epochLoop(spark, dir, optimizer, ent0, rel0, 1, epochs, lr, freshNegs)
  }

  /** The epoch loop from an ARBITRARY starting state: `entInit`/`relInit`
    * carry (id, vec, s1, s2) — fresh dyadic init with zero slots for a
    * from-scratch run, or a [[Checkpoints]]-loaded frame pair to RESUME
    * a prior run. `startEpoch` continues the global epoch numbering
    * (Adam/AdamW bias corrections 1−βᵗ and freshNegs' per-epoch
    * corruption hashes are functions of the ABSOLUTE epoch, so a resumed
    * run replays exactly the schedule the uninterrupted run would have
    * had — the bit-identity the resume spec pins).
    *
    * Each epoch frees the generation it supersedes, so only the returned
    * pair stays persisted. That includes a locally checkpointed initial
    * state (a from-scratch run's init); frames of any other kind, such
    * as a resumed checkpoint's parquet reads, are left alone.
    */
  private[kge] def epochLoop(spark: SparkSession, dir: String,
      optimizer: String, entInit: DataFrame, relInit: DataFrame,
      startEpoch: Int, epochs: Int, lr: Double, freshNegs: Boolean)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) = {
    // deterministic minibatch + corrupted objects, shared across all
    // trainer entries (see TrainData — the reference's minibatch-SGD
    // shape with a pHash-fixed batch)
    val x0 = TrainData.minibatch(spark, dir)

    // freshNegs: re-corrupt with a DIFFERENT pHash-derived object each
    // epoch (epoch folded into the hash key) — the reference's sampler
    // draws fresh random corruptions per pass (TransE.scala:92-93
    // Random.nextInt per batch read), and against type-constrained
    // ranking one FIXED negative per triple is too weak a signal: the
    // model only ever learns to beat that one corruption. Deterministic
    // here like everything else — epoch e's batch is a pure function of
    // (triple, e). Used by the train→eval composition ([[TrainEval]]);
    // the loss queries keep the fixed batch so their loss descent is on
    // a fixed objective.
    val nEnt: Long = if (freshNegs) TrainData.entityCount(spark, dir) else 0L
    def batchFor(epoch: Int): DataFrame =
      if (!freshNegs) x0
      else {
        // FreshNegK corruptions per positive per epoch (Bordes sums the
        // hinge over the corrupted sample set): the epoch loop's cost is
        // dominated by fixed per-job overhead at test SFs, so widening
        // the batch k-fold buys k× the ranking signal nearly free.
        val raw = PortableHash.pHash(concat_ws("|",
          lit("neg"), lit(epoch.toString), col("k"),
          col("sid"), col("pid"), col("oid"))) % nEnt
        x0.drop("nid")
          .withColumn("k",
            explode(array((0 until FreshNegK).map(k => lit(k.toString)): _*)))
          .withColumn("nid",
            when(raw === col("oid"), (raw + 1) % nEnt).otherwise(raw))
          .drop("k")
      }

    var ent = entInit
    var rel = relInit

    def joinedFor(x: DataFrame): DataFrame =
      x.join(ent.select(col("id").as("sid"), col("vec").as("h")), "sid")
        .join(ent.select(col("id").as("oid"), col("vec").as("t")), "oid")
        .join(ent.select(col("id").as("nid"), col("vec").as("tn")), "nid")
        .join(broadcast(rel.select(col("id").as("pid"), col("vec").as("r"))), "pid")

    def sq(c: Column): Column = c * c
    def dPos: Column = aggregate(
      zip_with(zip_with(col("h"), col("r"), _ + _), col("t"), (a, b) => sq(a - b)),
      lit(0.0), (acc, v) => acc + v)
    def dNeg: Column = aggregate(
      zip_with(zip_with(col("h"), col("r"), _ + _), col("tn"), (a, b) => sq(a - b)),
      lit(0.0), (acc, v) => acc + v)
    def hinge: Column = lit(Margin) + dPos - dNeg

    def lossOf(df: DataFrame): Double =
      df.select(greatest(lit(0.0), hinge).as("l"))
        .agg(Exact.decSum(col("l"))).head().getDouble(0)

    // One aggregation over the epoch's joined batch yields both the
    // per-(kind, id) mean gradients and the epoch's loss, so the batch
    // is scanned once and never persisted. Only active rows (hinge > 0)
    // contribute: an inactive row's hinge is exactly 0 and adds nothing
    // to the quantised sum, so the ("l", -1) group's decSum over active
    // rows is bit-identical to [[lossOf]] over the whole batch. That holds
    // for a diverged state too: decSum's long cast counts a NaN hinge as
    // 0 in both passes (TrainPinSpec pins it).
    // gradient of the active hinge: ∂/∂h = 2(h+r−t) − 2(h+r−t') = 2(t'−t)
    //                               ∂/∂r = same as ∂/∂h
    //                               ∂/∂t = −2(h+r−t); ∂/∂t' = 2(h+r−t')
    // Keyed gradient accumulation in ONE groupBy with D elementwise
    // aggregates (no per-dim explode, no collect_list reassembly);
    // decimal terms → order-independent. MEAN (not sum) per id: hub
    // entities participate in thousands of triples, and a summed
    // full-batch gradient diverges for any usable lr — the per-id mean
    // bounds every step by 2·lr·max|Δ|.
    def gradsAndLoss(j: DataFrame): DataFrame = {
      val noLoss = lit(null).cast("double")
      val dimAggs = (0 until D).map(i =>
        Exact.decAvg(element_at(col("g"), i + 1), 9).as(s"_g$i"))
      j.withColumn("hinge", hinge).filter(col("hinge") > 0)
        .select(col("sid"), col("pid"), col("oid"), col("nid"), col("hinge"),
          zip_with(col("tn"), col("t"), (a, b) => lit(2.0) * (a - b)).as("gh"),
          zip_with(zip_with(col("h"), col("r"), _ + _), col("t"),
            (a, b) => lit(-2.0) * (a - b)).as("gt"),
          zip_with(zip_with(col("h"), col("r"), _ + _), col("tn"),
            (a, b) => lit(2.0) * (a - b)).as("gn"))
        .select(explode(array(
          struct(col("sid").as("id"), lit("e").as("kind"), col("gh").as("g"), noLoss.as("l")),
          struct(col("oid").as("id"), lit("e").as("kind"), col("gt").as("g"), noLoss.as("l")),
          struct(col("nid").as("id"), lit("e").as("kind"), col("gn").as("g"), noLoss.as("l")),
          struct(col("pid").as("id"), lit("r").as("kind"), col("gh").as("g"), noLoss.as("l")),
          struct(lit(-1L).as("id"), lit("l").as("kind"),
            lit(null).cast("array<double>").as("g"), col("hinge").as("l")))).as("c"))
        .select(col("c.id").as("id"), col("c.kind").as("kind"),
          col("c.g").as("g"), col("c.l").as("l"))
        .groupBy("kind", "id")
        .agg(Exact.decSum(col("l")).as("loss"), dimAggs: _*)
        .select(col("kind"), col("id"),
          array((0 until D).map(i => col(s"_g$i")): _*).as("gvec"), col("loss"))
    }

    val losses = Seq.newBuilder[(Int, Double)]
    for (epoch <- startEpoch to epochs) {
      // the generation this epoch supersedes (`ent` is renormalised below)
      val (entPrev, relPrev) = (ent, rel)
      if (freshNegs) {
        // Bordes et al.'s entity renormalization at each epoch start:
        // without the unit-sphere projection the hinge is satisfiable by
        // norm inflation alone and ranking quality DEGRADES with more
        // epochs (measured at sf0.1: 20 epochs unnormalized ranks worse
        // than init). Entities only — relations stay free, per the paper.
        val nrm = sqrt(aggregate(
          transform(col("vec"), v => v * v), lit(0.0), (a, b) => a + b))
        ent = ent.withColumn("_n", nrm)
          .withColumn("vec", transform(col("vec"), v => v / col("_n")))
          .drop("_n")
      }
      // The small gradient frame is cached, and the loss read fills the
      // cache in the epoch's one pass over the batch; both updates then
      // read the cache. A cached frame, unlike a localCheckpoint, plans
      // with its measured size, so the estimate of the update join stays
      // bounded (a checkpoint would carry the batch join's multiplied
      // estimate into the next state, compounding epoch over epoch).
      val grads = gradsAndLoss(joinedFor(batchFor(epoch)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val loss = grads.filter(col("kind") === "l").select("loss").collect()
      losses += ((epoch - 1, loss.headOption.fold(0.0)(_.getDouble(0))))

      def applyGrad(f: DataFrame, kind: String): DataFrame = {
        val joinedF = f.join(
          grads.filter(col("kind") === kind).select(col("id"), col("gvec")),
          Seq("id"), "left")
        optimizer match {
          case "sgd" =>
            joinedF.select(col("id"), when(col("gvec").isNull, col("vec"))
              .otherwise(zip_with(col("vec"), col("gvec"),
                (v, g) => v - lit(lr) * g)).as("vec"),
              col("s1"), col("s2"))
          case "adagrad" =>
            joinedF
              .withColumn("s1n", when(col("gvec").isNull, col("s1"))
                .otherwise(zip_with(col("s1"), col("gvec"),
                  (a, g) => a + g * g)))
              .select(col("id"),
                when(col("gvec").isNull, col("vec")).otherwise(
                  // step_i = g_i / √(G'_i + ε); vec_i ← vec_i − lr·step_i
                  zip_with(zip_with(col("gvec"), col("s1n"),
                    (g, a) => g / sqrt(a + lit(Eps))), col("vec"),
                    (step, v) => v - lit(lr) * step)).as("vec"),
                col("s1n").as("s1"), col("s2"))
          case "adam" =>
            // bias corrections depend only on the epoch → driver scalars
            val bc1 = 1.0 - math.pow(Beta1, epoch)
            val bc2 = 1.0 - math.pow(Beta2, epoch)
            joinedF
              .withColumn("s1n", when(col("gvec").isNull, col("s1"))
                .otherwise(zip_with(col("s1"), col("gvec"),
                  (m, g) => lit(Beta1) * m + lit(1 - Beta1) * g)))
              .withColumn("s2n", when(col("gvec").isNull, col("s2"))
                .otherwise(zip_with(col("s2"), col("gvec"),
                  (v, g) => lit(Beta2) * v + lit(1 - Beta2) * (g * g))))
              .select(col("id"),
                when(col("gvec").isNull, col("vec")).otherwise(
                  // step_i = m̂/(√v̂ + ε), m̂ = s1'/bc1, v̂ = s2'/bc2
                  zip_with(zip_with(col("s1n"), col("s2n"),
                    (m, v) => (m / lit(bc1)) /
                      (sqrt(v / lit(bc2)) + lit(Eps))), col("vec"),
                    (step, vv) => vv - lit(lr) * step)).as("vec"),
                col("s1n").as("s1"), col("s2n").as("s2"))
          case "adamw" =>
            // Adam's moments verbatim + the decoupled decay `− lr·λ·θ`
            // fused into the update (decay applies ONLY where a gradient
            // touched the row this epoch — the sparse-AdamW convention:
            // decaying untouched embeddings would shrink the whole
            // table every epoch regardless of the batch).
            val bc1 = 1.0 - math.pow(Beta1, epoch)
            val bc2 = 1.0 - math.pow(Beta2, epoch)
            joinedF
              .withColumn("s1n", when(col("gvec").isNull, col("s1"))
                .otherwise(zip_with(col("s1"), col("gvec"),
                  (m, g) => lit(Beta1) * m + lit(1 - Beta1) * g)))
              .withColumn("s2n", when(col("gvec").isNull, col("s2"))
                .otherwise(zip_with(col("s2"), col("gvec"),
                  (v, g) => lit(Beta2) * v + lit(1 - Beta2) * (g * g))))
              .select(col("id"),
                when(col("gvec").isNull, col("vec")).otherwise(
                  zip_with(zip_with(col("s1n"), col("s2n"),
                    (m, v) => (m / lit(bc1)) /
                      (sqrt(v / lit(bc2)) + lit(Eps))), col("vec"),
                    (step, vv) =>
                      vv - lit(lr) * step - lit(lr * Wd) * vv)).as("vec"),
                col("s1n").as("s1"), col("s2n").as("s2"))
        }
      }

      ent = applyGrad(ent, "e").localCheckpoint()
      rel = applyGrad(rel, "r").localCheckpoint()
      // the superseded generation and the gradients are dead once the
      // new state exists
      Seq(entPrev, relPrev).foreach(Caches.releaseCheckpoint)
      grads.unpersist(blocking = true)
    }
    losses += ((epochs, lossOf(joinedFor(batchFor(epochs)))))
    (ent, rel, losses.result())
  }
}
