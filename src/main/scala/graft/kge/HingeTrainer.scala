package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Caches, Exact, PortableHash}
import graft.rdf.Dict

/** One margin-ranking trainer for every KGE model.
  *
  * Reference: the one hinge of Functions.scala:9-19 with the
  * TransE.scala:47-149 minibatch loop (optimizer picked by name);
  * kge/hole.py swaps models behind the same loss and loop. Here a
  * [[HingeTrainer.HingeModel]] gives what differs between models (init,
  * score, per-slot gradients, trainStep output); everything else is
  * shared:
  *
  *   L = Σ max(0, γ + f(pos) − f(neg))   f a distance (TransE)
  *   L = Σ max(0, γ + f(neg) − f(pos))   f a plausibility (the others)
  *
  * with one pHash-derived corrupted object t' per triple of the
  * deterministic minibatch ([[TrainData]]). Per epoch:
  *  - join triples to the current embedding DataFrames on id (the only
  *    shuffles; embeddings NEVER reach the driver);
  *  - per-triple gradient contributions per slot (h, r, t, t');
  *  - explode to (kind, id, g), groupBy (kind, id) — gradient
  *    accumulation is a keyed agg, exactly how a parameter-server shard
  *    would do it;
  *  - the same groupBy carries the epoch's loss as one more group, so
  *    the joined batch is aggregated once and never persisted;
  *  - update = join embeddings ⋈ grads through the optimizer.
  * `localCheckpoint` after each epoch truncates the lineage (the
  * iterative-DataFrame pattern); the superseded generation and the
  * gradient frame are freed as soon as the new state exists.
  *
  * State is (id, vec, <the optimizer's slots>) for every model: SGD
  * carries none, Adagrad its accumulator s1, Adam/AdamW the moments s1
  * and s2, each as wide as vec. So every model trains under every
  * optimizer and resumes from a [[Checkpoints]] artifact.
  *
  * Exactness: init embeddings and the epoch-1 gradient terms are dyadic
  * rationals; per-id means go through the scale-9 quantised sum
  * ([[Exact.decAvg]]), so no result depends on partition order.
  */
object HingeTrainer {

  val D = 8
  val Margin = 1.0
  val Epochs = 3

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

  /** `n` dyadic init values keyed by (prefix, id, dim). */
  def initVec(kind: String, id: Column, n: Int = D): Column =
    array((0 until n).map(i => PortableHash.dyadic(
      concat_ws("|", lit(kind), id.cast("string"), lit(i.toString)))): _*)

  /** What a model puts behind the shared hinge.
    *
    * @param ent      init prefixes of the entity table with their widths;
    *                 `vec` is their concatenation
    * @param rel      the same for the relation table
    * @param lr       the learning rate of the registered runs
    * @param distance the score is a distance (lower ranks higher)
    * @param score    f(h, r, x) for a tail column x, over the joined
    *                 columns `h` and `r`
    * @param grads    ∂L/∂(h, t, t′, r) of an active hinge over the joined
    *                 `h`, `r`, `t`, `tn` and the `shared` columns; a slot
    *                 that passes the SAME column object as another is
    *                 computed once
    * @param project  the trainStep output from the stepped (entity,
    *                 relation) tables
    * @param shared   named intermediates the gradients read by name,
    *                 computed once per active row before them
    */
  final case class HingeModel(
      ent: Seq[(String, Int)],
      rel: Seq[(String, Int)],
      lr: Double,
      distance: Boolean,
      score: Column => Column,
      grads: (Column, Column, Column, Column),
      project: (DataFrame, DataFrame) => DataFrame,
      shared: Seq[(String, Column)] = Nil) {
    val width: Int = math.max(ent.map(_._2).sum, rel.map(_._2).sum)

    def hinge: Column = {
      val (pos, neg) = (score(col("t")), score(col("tn")))
      if (distance) lit(Margin) + pos - neg else lit(Margin) + neg - pos
    }
  }

  /** (id, i, v) long form of the stepped entity table. */
  def entityLong(ent: DataFrame, rel: DataFrame): DataFrame =
    ent.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))

  private def slots(optimizer: String): Seq[String] = optimizer match {
    case "sgd" => Nil
    case "adagrad" => Seq("s1")
    case "adam" | "adamw" => Seq("s1", "s2")
  }

  /** Fresh (entity, relation) state: dyadic init plus zero slots. With
    * freshNegs every entity is embeddable (any id can be drawn as a
    * corruption) — the production layout anyway; the fixed batch only
    * ever touches its own three id sets.
    */
  private def init(spark: SparkSession, dir: String, model: HingeModel,
      optimizer: String, freshNegs: Boolean): (DataFrame, DataFrame) = {
    val x0 = TrainData.minibatch(spark, dir)
    val entIds =
      if (freshNegs) Dict.entities(spark, dir).select(col("id"))
      else x0.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
        .distinct()
    def table(ids: DataFrame, parts: Seq[(String, Int)]): DataFrame = {
      val vec = parts.map { case (p, n) => initVec(p, col("id"), n) } match {
        case Seq(one) => one
        case many => concat(many: _*)
      }
      val zeros = array(Seq.fill(parts.map(_._2).sum)(lit(0.0)): _*)
      slots(optimizer).foldLeft(ids.withColumn("vec", vec))(_.withColumn(_, zeros))
    }
    (table(entIds, model.ent),
      table(x0.select(col("pid").as("id")).distinct(), model.rel))
  }

  private def joinedFor(x: DataFrame, ent: DataFrame, rel: DataFrame): DataFrame =
    x.join(ent.select(col("id").as("sid"), col("vec").as("h")), "sid")
      .join(ent.select(col("id").as("oid"), col("vec").as("t")), "oid")
      .join(ent.select(col("id").as("nid"), col("vec").as("tn")), "nid")
      .join(broadcast(rel.select(col("id").as("pid"), col("vec").as("r"))), "pid")

  /** The quantised sum of hinges, or NaN when any hinge is NaN: a diverged
    * state must read as diverged, while decSum's long cast alone would
    * count a NaN hinge as 0.
    */
  private def hingeSum(l: Column): Column =
    when(max(isnan(l)), lit(Double.NaN)).otherwise(Exact.decSum(l))

  private def lossOf(model: HingeModel, j: DataFrame): Double =
    j.select(greatest(lit(0.0), model.hinge).as("l"))
      .agg(hingeSum(col("l"))).head().getDouble(0)

  /** One aggregation over the epoch's joined batch yields both the
    * per-(kind, id) mean gradients and the epoch's loss, so the batch is
    * scanned once and never persisted. Only active rows (hinge > 0, which
    * a NaN hinge is too) contribute: an inactive row's hinge is exactly 0
    * and adds nothing to the quantised sum, so the ("l", -1) group's loss
    * is bit-identical to [[lossOf]] over the whole batch, NaN included
    * (TrainPinSpec pins both).
    *
    * One groupBy with `width` elementwise aggregates (no per-dim explode,
    * no collect_list reassembly); a table narrower than the widest reads
    * nulls past its end. MEAN (not sum) per id: hub entities participate
    * in thousands of triples, and a summed full-batch gradient diverges
    * for any usable lr — the per-id mean bounds every step by 2·lr·max|Δ|.
    */
  private def gradsAndLoss(model: HingeModel, j: DataFrame): DataFrame = {
    val noLoss = lit(null).cast("double")
    val (gh, gt, gn, gr) = model.grads
    val named = Seq("gh" -> gh, "gt" -> gt, "gn" -> gn, "gr" -> gr)
    def nameOf(g: Column): String = named.find(_._2 eq g).get._1
    val gradCols = named.collect { case (n, g) if nameOf(g) == n => g.as(n) }
    def slot(id: String, kind: String, g: Column): Column =
      struct(col(id).as("id"), lit(kind).as("kind"), col(nameOf(g)).as("g"),
        noLoss.as("l"))
    val dimAggs = (0 until model.width).map(i =>
      Exact.decAvg(try_element_at(col("g"), lit(i + 1)), 9).as(s"_g$i"))
    val active = j.withColumn("hinge", model.hinge).filter(col("hinge") > 0)
    model.shared.foldLeft(active) { case (df, (n, c)) => df.withColumn(n, c) }
      .select(Seq(col("sid"), col("pid"), col("oid"), col("nid"),
        col("hinge")) ++ gradCols: _*)
      .select(explode(array(
        slot("sid", "e", gh), slot("oid", "e", gt), slot("nid", "e", gn),
        slot("pid", "r", gr),
        struct(lit(-1L).as("id"), lit("l").as("kind"),
          lit(null).cast("array<double>").as("g"), col("hinge").as("l")))).as("c"))
      .select(col("c.id").as("id"), col("c.kind").as("kind"),
        col("c.g").as("g"), col("c.l").as("l"))
      .groupBy("kind", "id")
      .agg(hingeSum(col("l")).as("loss"), dimAggs: _*)
      .select(col("kind"), col("id"),
        array((0 until model.width).map(i => col(s"_g$i")): _*).as("gvec"),
        col("loss"))
  }

  /** `f` (one table of `kind`) after the epoch's optimizer step. Rows no
    * gradient touched keep their params and slots.
    */
  private def applyGrad(model: HingeModel, optimizer: String, f: DataFrame,
      grads: DataFrame, kind: String, epoch: Int, lr: Double): DataFrame = {
    val width = (if (kind == "e") model.ent else model.rel).map(_._2).sum
    val g = if (width == model.width) col("gvec") else slice(col("gvec"), 1, width)
    val joinedF = f.join(
      grads.filter(col("kind") === kind).select(col("id"), g.as("gvec")),
      Seq("id"), "left")
    optimizer match {
      case "sgd" =>
        joinedF.select(col("id"), when(col("gvec").isNull, col("vec"))
          .otherwise(zip_with(col("vec"), col("gvec"),
            (v, g) => v - lit(lr) * g)).as("vec"))
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
            col("s1n").as("s1"))
      case "adam" | "adamw" =>
        // bias corrections depend only on the epoch → driver scalars
        val bc1 = 1.0 - math.pow(Beta1, epoch)
        val bc2 = 1.0 - math.pow(Beta2, epoch)
        // AdamW: Adam's moments verbatim + the decoupled decay `− lr·λ·θ`
        // fused into the update (decay applies ONLY where a gradient
        // touched the row this epoch — the sparse-AdamW convention:
        // decaying untouched embeddings would shrink the whole table
        // every epoch regardless of the batch).
        def stepped(vv: Column, step: Column): Column =
          if (optimizer == "adam") vv - lit(lr) * step
          else vv - lit(lr) * step - lit(lr * Wd) * vv
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
                (step, vv) => stepped(vv, step))).as("vec"),
            col("s1n").as("s1"), col("s2n").as("s2"))
    }
  }

  /** ONE closed-form epoch from the fresh init as a single LAZY plan
    * (join → active-hinge filter → keyed mean-gradient → update join; no
    * job runs), projected by the model: the surface each model's
    * `trainStep` oracle pins. From zero slots every optimizer's first
    * update is closed-form too.
    */
  def step(spark: SparkSession, dir: String, model: HingeModel,
      optimizer: String = "sgd"): DataFrame = {
    val (ent0, rel0) = init(spark, dir, model, optimizer, freshNegs = false)
    val grads = gradsAndLoss(model,
      joinedFor(TrainData.minibatch(spark, dir), ent0, rel0))
    model.project(
      applyGrad(model, optimizer, ent0, grads, "e", 1, model.lr),
      applyGrad(model, optimizer, rel0, grads, "r", 1, model.lr))
  }

  /** A training run from the fresh init: the final (entity, relation)
    * state, both localCheckpointed, and the (epoch, loss) rows — the loss
    * before each epoch plus the loss of the final state.
    */
  def train(spark: SparkSession, dir: String, model: HingeModel,
      optimizer: String, epochs: Int, lr: Double, freshNegs: Boolean = false)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) = {
    val (ent0, rel0) = init(spark, dir, model, optimizer, freshNegs)
    epochLoop(spark, dir, model, optimizer, ent0.localCheckpoint(),
      rel0.localCheckpoint(), 1, epochs, lr, freshNegs)
  }

  /** The registered loss-only run: plain SGD for [[Epochs]] epochs,
    * returning (epoch, loss) rows; the final state is freed too.
    */
  def losses(spark: SparkSession, dir: String, model: HingeModel): DataFrame = {
    import spark.implicits._
    val (ent, rel, losses) = train(spark, dir, model, "sgd", Epochs, model.lr)
    Seq(ent, rel).foreach(Caches.releaseCheckpoint)
    losses.toDF("epoch", "loss")
  }

  /** The epoch loop from an ARBITRARY starting state: `entInit`/`relInit`
    * carry (id, vec, <slots>) — fresh dyadic init for a from-scratch run,
    * or a [[Checkpoints]]-loaded frame pair to RESUME a prior run.
    * `startEpoch` continues the global epoch numbering (Adam/AdamW bias
    * corrections 1−βᵗ and freshNegs' per-epoch corruption hashes are
    * functions of the ABSOLUTE epoch, so a resumed run replays exactly
    * the schedule the uninterrupted run would have had — the
    * bit-identity the resume spec pins).
    *
    * Each epoch frees the generation it supersedes, so only the returned
    * pair stays persisted. That includes a locally checkpointed initial
    * state (a from-scratch run's init); frames of any other kind, such
    * as a resumed checkpoint's parquet reads, are left alone.
    */
  def epochLoop(spark: SparkSession, dir: String, model: HingeModel,
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
      val grads = gradsAndLoss(model, joinedFor(batchFor(epoch), ent, rel))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val loss = grads.filter(col("kind") === "l").select("loss").collect()
      losses += ((epoch - 1, loss.headOption.fold(0.0)(_.getDouble(0))))
      ent = applyGrad(model, optimizer, ent, grads, "e", epoch, lr).localCheckpoint()
      rel = applyGrad(model, optimizer, rel, grads, "r", epoch, lr).localCheckpoint()
      // the superseded generation and the gradients are dead once the
      // new state exists
      Seq(entPrev, relPrev).foreach(Caches.releaseCheckpoint)
      grads.unpersist(blocking = true)
    }
    losses += ((epochs, lossOf(model, joinedFor(batchFor(epochs), ent, rel))))
    (ent, rel, losses.result())
  }
}
