package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, PortableHash}
import graft.functions.CircularCorrelation.ccorr
import graft.kge.HingeTrainer._
import graft.rdf.Dict

/** #47: distributed HolE training — holographic embeddings, the
  * reference's flagship model (python/sansa/ml/kbc/keras/holek.py,
  * kge/hole.py `HolE`), trained with the max-margin ranking loss and
  * full-batch deterministic GD of [[HingeTrainer]]'s shared epoch loop.
  *
  * Model: f(s,p,o) = rᵀ ccorr(h, t) with ccorr(a,b)_k = Σ_i a_i·b_{(i+k) mod d}.
  * All gradients are themselves circular correlations (the closed form
  * the reference computes in Fourier space, holek.py:135-151):
  *   ∂f/∂r = ccorr(h, t)
  *   ∂f/∂h = ccorr(r, t)
  *   ∂f/∂t = cconv(r, h) = ccorr(inv(r), h),  inv(r) = [r₀, r_{d−1}, …, r₁]
  * so every gradient runs through the same codegen'd
  * [[graft.functions.CircularCorrelation]] expression as scoring — no
  * new kernels, O(d²) per row, exact dyadic arithmetic. Hinge active ⇒
  * ∂L = ∂f(neg) − ∂f(pos).
  */
object HolETrainer {

  val Lr = 0.1

  /** Circular index involution: inv(a) = [a₀, a_{d−1}, a_{d−2}, …, a₁]. */
  private def inv(a: Column): Column =
    concat(slice(a, 1, 1), reverse(slice(a, 2, D - 1)))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), (acc, v) => acc + v)

  val model: HingeModel = HingeModel(
    ent = Seq("HE" -> D), rel = Seq("HR" -> D), lr = Lr, distance = false,
    score = t => dot(col("r"), ccorr(col("h"), t)),
    grads = (
      zip_with(ccorr(col("r"), col("tn")), ccorr(col("r"), col("t")), _ - _),
      transform(ccorr(inv(col("r")), col("h")), v => -v),
      ccorr(inv(col("r")), col("h")),
      zip_with(ccorr(col("h"), col("tn")), ccorr(col("h"), col("t")), _ - _)),
    project = entityLong)

  /** #79: ONE closed-form full-batch GD step — the epoch-1 entity table
    * of #47 in long (id, i, v) form as [[HingeTrainer]]'s single LAZY
    * plan, with a DuckDB oracle. Pins the HOLOGRAPHIC gradient family:
    * every gradient is a circular correlation, so the oracle re-derives
    * `ccorr(a,b)[k] = Σ_i a[i]·b[(i+k) mod d]` with explicit index
    * arithmetic over list-valued embeddings and must match the codegen'd
    * [[graft.functions.CircularCorrelation]] expression bit-for-bit
    * (dyadic terms — exact in any summation order — then the scale-9
    * quantized mean and the mirrored correctly-rounded update).
    * With #75 (translational) and #78 (bilinear), all three gradient
    * algebras behind the five rows-only trainers are oracle-pinned.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame =
    step(spark, dir, model)

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

  /** Returns (epoch, loss) rows; loss decreases over the first epochs.
    * HolE is the model the reference's `save_epoch` belongs to
    * (kge/hole.py:253-258); its state checkpoints and resumes through
    * [[Checkpoints]] like every model's.
    */
  def train(spark: SparkSession, dir: String): DataFrame =
    losses(spark, dir, model)
}
