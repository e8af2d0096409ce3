package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Exact, PortableHash}
import graft.functions.CircularCorrelation.ccorr
import graft.rdf.Dict

/** #47: distributed HolE training — holographic embeddings, the
  * reference's flagship model (python/sansa/ml/kbc/keras/holek.py,
  * kge/hole.py `HolE`), trained with the max-margin ranking loss and
  * full-batch deterministic GD like [[TransETrainer]]/[[DistMultTrainer]].
  *
  * Model: f(s,p,o) = rᵀ ccorr(h, t) with ccorr(a,b)_k = Σ_i a_i·b_{(i+k) mod d}.
  * All gradients are themselves circular correlations (the closed form
  * the reference computes in Fourier space, holek.py:135-151):
  *   ∂f/∂r = ccorr(h, t)
  *   ∂f/∂h = ccorr(r, t)
  *   ∂f/∂t = cconv(r, h) = ccorr(inv(r), h),  inv(r) = [r₀, r_{d−1}, …, r₁]
  * so every gradient runs through the same codegen'd
  * [[graft.functions.CircularCorrelation]] expression as scoring — no
  * new kernels, O(d²) per row, exact dyadic arithmetic.
  *
  * Same scale shape as the sibling trainers: id-keyed embedding frames,
  * epoch = join + map + explode + groupBy(id) mean-gradient, update
  * join, localCheckpoint lineage truncation.
  */
object HolETrainer {

  val D = 8
  val Margin = 1.0
  val Lr = 0.1
  val Epochs = 3

  private def initVec(kind: String, id: Column): Column =
    array((0 until D).map(i => PortableHash.dyadic(
      concat_ws("|", lit(kind), id.cast("string"), lit(i.toString)))): _*)

  /** Circular index involution: inv(a) = [a₀, a_{d−1}, a_{d−2}, …, a₁]. */
  private def inv(a: Column): Column =
    concat(slice(a, 1, 1), reverse(slice(a, 2, D - 1)))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), (acc, v) => acc + v)

  /** #79: ONE closed-form full-batch GD step — the epoch-1 entity table
    * of #47 in long (id, i, v) form as a single LAZY plan, with a
    * DuckDB oracle. Pins the HOLOGRAPHIC gradient family: every
    * gradient is a circular correlation, so the oracle re-derives
    * `ccorr(a,b)[k] = Σ_i a[i]·b[(i+k) mod d]` with explicit index
    * arithmetic over list-valued embeddings and must match the codegen'd
    * [[graft.functions.CircularCorrelation]] expression bit-for-bit
    * (dyadic terms — exact in any summation order — then the scale-9
    * quantized mean and the mirrored correctly-rounded update).
    * With #75 (translational) and #78 (bilinear), all three gradient
    * algebras behind the five rows-only trainers are oracle-pinned.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame = {
    val x = TrainData.minibatch(spark, dir)
    val ent0 = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct().withColumn("vec", initVec("HE", col("id")))
    val rel0 = x.select(col("pid").as("id")).distinct()
      .withColumn("vec", initVec("HR", col("id")))
    val j = x
      .join(ent0.select(col("id").as("sid"), col("vec").as("h")), "sid")
      .join(ent0.select(col("id").as("oid"), col("vec").as("t")), "oid")
      .join(ent0.select(col("id").as("nid"), col("vec").as("tn")), "nid")
      .join(broadcast(rel0.select(col("id").as("pid"), col("vec").as("r"))), "pid")
    val fPos = dot(col("r"), ccorr(col("h"), col("t")))
    val fNeg = dot(col("r"), ccorr(col("h"), col("tn")))
    val gradRows = j
      .filter((lit(Margin) + fNeg - fPos) > 0)
      .withColumn("rinv", inv(col("r")))
      .select(
        zip_with(ccorr(col("r"), col("tn")), ccorr(col("r"), col("t")),
          _ - _).as("gh"),
        transform(ccorr(col("rinv"), col("h")), v => -v).as("gt"),
        ccorr(col("rinv"), col("h")).as("gn"),
        col("sid"), col("oid"), col("nid"))
      .select(explode(array(
        struct(col("sid").as("id"), col("gh").as("g")),
        struct(col("oid").as("id"), col("gt").as("g")),
        struct(col("nid").as("id"), col("gn").as("g")))).as("c"))
      .select(col("c.id").as("id"), col("c.g").as("g"))
    val dimAggs = (0 until D).map(i =>
      Exact.decAvg(element_at(col("g"), i + 1), 9).as(s"_g$i"))
    val grads = gradRows.groupBy("id")
      .agg(dimAggs.head, dimAggs.tail: _*)
      .select(col("id"),
        array((0 until D).map(i => col(s"_g$i")): _*).as("gvec"))
    ent0.join(grads, Seq("id"), "left")
      .select(col("id"), when(col("gvec").isNull, col("vec"))
        .otherwise(zip_with(col("vec"), col("gvec"),
          (v, g) => v - lit(Lr) * g)).as("vec"))
      .select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
  }

  val trainStepSql: String = {
    val mbHash = PortableHash.duck("'mb|' || sid || '|' || pid || '|' || oid")
    val negHash = PortableHash.duck("'neg|' || sid || '|' || pid || '|' || oid")
    // ccorr over 1-based DuckDB lists, 0-based math
    def cc(a: String, b: String, k: String) =
      s"list_sum(list_transform(range(0, $D), ci -> $a[ci + 1] * $b[((ci + $k) % $D) + 1]))"
    val rinv = s"list_transform(range(0, $D), ri -> r[(($D - ri) % $D) + 1])"
    val fOf = (tv: String) =>
      s"list_sum(list_transform(range(0, $D), fk -> r[fk + 1] * ${cc("h", tv, "fk")}))"
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
       |e0l AS MATERIALIZED (
       |  SELECT id, list_transform(range(0, $D),
       |    li -> ${PortableHash.duckDyadic("'HE|' || id || '|' || li")}) AS v
       |  FROM eids
       |),
       |r0l AS MATERIALIZED (
       |  SELECT id, list_transform(range(0, $D),
       |    li -> ${PortableHash.duckDyadic("'HR|' || id || '|' || li")}) AS v
       |  FROM (SELECT DISTINCT pid AS id FROM mb)
       |),
       |tripl AS MATERIALIZED (
       |  SELECT mb.sid, mb.pid, mb.oid, mb.nid,
       |    eh.v AS h, et.v AS t, en.v AS tn, r0l.v AS r,
       |    $rinv AS rv
       |  FROM mb
       |  JOIN e0l eh ON eh.id = mb.sid
       |  JOIN r0l ON r0l.id = mb.pid
       |  JOIN e0l et ON et.id = mb.oid
       |  JOIN e0l en ON en.id = mb.nid
       |),
       |act AS MATERIALIZED (
       |  SELECT * FROM tripl
       |  WHERE $Margin + ${fOf("tn")} - ${fOf("t")} > 0
       |),
       |gc AS (
       |  SELECT tr.sid AS id, d.i,
       |    ${cc("tr.r", "tr.tn", "d.i")} - ${cc("tr.r", "tr.t", "d.i")} AS g
       |  FROM act tr, dims d
       |  UNION ALL
       |  SELECT tr.oid, d.i, -(${cc("tr.rv", "tr.h", "d.i")})
       |  FROM act tr, dims d
       |  UNION ALL
       |  SELECT tr.nid, d.i, ${cc("tr.rv", "tr.h", "d.i")}
       |  FROM act tr, dims d
       |),
       |gm AS (
       |  SELECT id, i, ${Exact.duckAvg("g", 9)} AS g
       |  FROM gc GROUP BY id, i
       |),
       |e0 AS (
       |  SELECT id, i, ${PortableHash.duckDyadic("'HE|' || id || '|' || i")} AS v
       |  FROM eids, dims
       |)
       |SELECT e0.id, CAST(e0.i AS INT) AS i,
       |  COALESCE(e0.v - $Lr * gm.g, e0.v) AS v
       |FROM e0 LEFT JOIN gm ON gm.id = e0.id AND gm.i = e0.i""".stripMargin
  }

  /** Returns (epoch, loss) rows; loss decreases over the first epochs. */
  def train(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ent, rel, losses) = trainState(spark, dir, Epochs)
    val finalLoss = lossOf(joinedFor(spark, dir, ent, rel))
    // only the losses leave this call: the final state is freed too
    Seq(ent, rel).foreach(Caches.releaseCheckpoint)
    (losses :+ (Epochs, finalLoss)).toDF("epoch", "loss")
  }

  /** Full trainer state after `epochs` epochs: the (id, vec) entity and
    * relation frames plus the per-epoch losses — the checkpointable
    * surface ([[Checkpoints]]; the reference checkpoints exactly this
    * model's params, kge/hole.py:253-258 `save_epoch`). HolE trains
    * with plain SGD, so unlike TransE-AdamW there are no optimizer
    * slots to carry: params ARE the state.
    */
  private[kge] def trainState(spark: SparkSession, dir: String,
      epochs: Int): (DataFrame, DataFrame, Seq[(Int, Double)]) = {
    val x = TrainData.minibatch(spark, dir)
    val ent0 = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct().withColumn("vec", initVec("HE", col("id"))).localCheckpoint()
    val rel0 = x.select(col("pid").as("id")).distinct()
      .withColumn("vec", initVec("HR", col("id"))).localCheckpoint()
    epochLoop(spark, dir, ent0, rel0, 1, epochs)
  }

  private def joinedFor(spark: SparkSession, dir: String,
      ent: DataFrame, rel: DataFrame): DataFrame = {
    val x = TrainData.minibatch(spark, dir)
    x.join(ent.select(col("id").as("sid"), col("vec").as("h")), "sid")
      .join(ent.select(col("id").as("oid"), col("vec").as("t")), "oid")
      .join(ent.select(col("id").as("nid"), col("vec").as("tn")), "nid")
      .join(broadcast(rel.select(col("id").as("pid"), col("vec").as("r"))), "pid")
  }

  private def fPos: Column = dot(col("r"), ccorr(col("h"), col("t")))
  private def fNeg: Column = dot(col("r"), ccorr(col("h"), col("tn")))

  private def lossOf(df: DataFrame): Double =
    df.select(greatest(lit(0.0), lit(Margin) + fNeg - fPos).as("l"))
      .agg(Exact.decSum(col("l"))).head().getDouble(0)

  /** The epoch loop from an ARBITRARY starting state — fresh dyadic
    * init for a from-scratch run, or a [[Checkpoints]]-loaded (id, vec)
    * pair to RESUME a prior run. SGD's update is a pure function of the
    * current params and the fixed minibatch (no bias-correction
    * schedule), so a resumed run replays exactly the uninterrupted
    * run's arithmetic — the bit-identity the resume spec pins.
    *
    * Each epoch frees the generation it supersedes, a locally
    * checkpointed initial state included; a resumed checkpoint's
    * parquet reads are left alone.
    */
  private[kge] def epochLoop(spark: SparkSession, dir: String,
      entInit: DataFrame, relInit: DataFrame,
      startEpoch: Int, epochs: Int)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) = {
    var ent = entInit
    var rel = relInit

    def joined: DataFrame = joinedFor(spark, dir, ent, rel)

    val losses = Seq.newBuilder[(Int, Double)]
    for (epoch <- startEpoch to epochs) {
      val j = joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      losses += ((epoch - 1, lossOf(j)))
      // hinge active ⇒ ∂L = ∂f(neg) − ∂f(pos):
      //   ∂L/∂h = ccorr(r, tn) − ccorr(r, t)
      //   ∂L/∂r = ccorr(h, tn) − ccorr(h, t)
      //   ∂L/∂t = −ccorr(inv(r), h); ∂L/∂tn = +ccorr(inv(r), h)
      val gradRows = j
        .filter((lit(Margin) + fNeg - fPos) > 0)
        .withColumn("rinv", inv(col("r")))
        .select(col("sid"), col("pid"), col("oid"), col("nid"),
          zip_with(ccorr(col("r"), col("tn")), ccorr(col("r"), col("t")),
            _ - _).as("gh"),
          zip_with(ccorr(col("h"), col("tn")), ccorr(col("h"), col("t")),
            _ - _).as("gr"),
          transform(ccorr(col("rinv"), col("h")), v => -v).as("gt"),
          ccorr(col("rinv"), col("h")).as("gn"))
        .select(explode(array(
          struct(col("sid").as("id"), lit("e").as("kind"), col("gh").as("g")),
          struct(col("oid").as("id"), lit("e").as("kind"), col("gt").as("g")),
          struct(col("nid").as("id"), lit("e").as("kind"), col("gn").as("g")),
          struct(col("pid").as("id"), lit("r").as("kind"), col("gr").as("g")))).as("c"))
        .select(col("c.id").as("id"), col("c.kind").as("kind"), col("c.g").as("g"))
      val dimAggs = (0 until D).map(i =>
        Exact.decAvg(element_at(col("g"), i + 1), 9).as(s"_g$i"))
      val grads = gradRows.groupBy("kind", "id")
        .agg(dimAggs.head, dimAggs.tail: _*)
        .select(col("kind"), col("id"),
          array((0 until D).map(i => col(s"_g$i")): _*).as("gvec"))

      def applyGrad(f: DataFrame, kind: String): DataFrame =
        f.join(grads.filter(col("kind") === kind).select(col("id"), col("gvec")),
            Seq("id"), "left")
          .select(col("id"), when(col("gvec").isNull, col("vec"))
            .otherwise(zip_with(col("vec"), col("gvec"),
              (v, g) => v - lit(Lr) * g)).as("vec"))

      val entNext = applyGrad(ent, "e").localCheckpoint()
      val relNext = applyGrad(rel, "r").localCheckpoint()
      j.unpersist()
      // the superseded generation is dead once its successor exists
      Seq(ent, rel).foreach(Caches.releaseCheckpoint)
      ent = entNext
      rel = relNext
    }
    (ent, rel, losses.result())
  }
}
