package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, PortableHash}
import graft.functions.VectorFolds
import graft.kge.HingeTrainer._
import graft.rdf.Dict

/** #104/#105: distributed RESCAL training — the FULL bilinear model
  * (kge/hole.py:181-218 `RescalModel`, score = hᵀ W_p t with a dense
  * d×d matrix per relation; DistMult is its diagonal special case),
  * trained with the same max-margin ranking loss, deterministic
  * minibatch, and corrupted-object machinery as the sibling trainers,
  * through [[HingeTrainer]]'s shared epoch loop (reference loop:
  * TransE.scala:96-147 swaps models behind the same loss). Completes the
  * trainer family: every scored model (TransE, DistMult, RESCAL, HolE,
  * ComplEx) now also trains.
  *
  * Gradients (hinge active ⇒ ∂L = ∂f(neg) − ∂f(pos), corrupted object
  * tn, Δt = tn − t):
  *   ∂L/∂h      = W·Δt            (matrix–vector)
  *   ∂L/∂W_{ab} = h_a·Δt_b        (outer product — the part DistMult
  *                                 has no analogue of)
  *   ∂L/∂t      = −(hᵀW),  ∂L/∂tn = +(hᵀW)
  *
  * Tables: entities d=8 arrays, relations d²=64 flat row-major W arrays
  * (the relation table stays broadcast, J relations × 64 doubles). All
  * gradient contractions are sums of dyadic products (denominator 2^14,
  * ≤ d terms) — exact in any summation order, which is what lets the
  * oracle mirror them as plain SUMs.
  */
object RescalTrainer {

  val DW = D * D
  val Lr = 0.1

  /** Δt-contracted gradients as HOF columns over (h, w, t, tn). */
  private def dt: Column = zip_with(col("tn"), col("t"), _ - _)

  /** (W·x)_a = Σ_b w[a·D+b]·x_b — row-slice matvec. */
  private def matvec(w: Column, x: Column): Column =
    transform(sequence(lit(0), lit(D - 1)), a =>
      aggregate(zip_with(slice(w, a * D + 1, lit(D)), x, _ * _),
        lit(0.0), (acc, v) => acc + v))

  /** (hᵀW)_b = Σ_a h_a·w[a·D+b] — strided vecmat. */
  private def vecmat(h: Column, w: Column): Column =
    transform(sequence(lit(0), lit(D - 1)), b =>
      aggregate(sequence(lit(0), lit(D - 1)), lit(0.0),
        (acc, a) => acc + element_at(h, a + 1) * element_at(w, a * D + b + 1)))

  /** Row-major outer product h⊗x, flat length d². */
  private def outer(h: Column, x: Column): Column =
    flatten(transform(h, ha => transform(x, xb => ha * xb)))

  /** (kind, id, i, v) long form of one table. */
  private def long(f: DataFrame, kind: String): DataFrame =
    f.select(lit(kind).as("kind"), col("id"), posexplode(col("vec")).as(Seq("i", "v")))

  val model: HingeModel = HingeModel(
    ent = Seq("SE" -> D), rel = Seq("SW" -> DW), lr = Lr, distance = false,
    score = t => VectorFolds.bilinear(col("r"), col("h"), t),
    shared = Seq("htw" -> vecmat(col("h"), col("r"))),
    grads = (
      matvec(col("r"), dt),
      transform(col("htw"), v => -v),
      col("htw"),
      outer(col("h"), dt)),
    project = (ent, w) => long(ent, "e").unionByName(long(w, "w")))

  /** #105: ONE closed-form full-batch GD step — the epoch-1 entity AND
    * relation-matrix tables in long (kind, id, i, v) form as
    * [[HingeTrainer]]'s single LAZY plan, with a DuckDB oracle. Pins the
    * FULL-BILINEAR gradient algebra — the matvec/vecmat contractions
    * and, uniquely in the trainer family, the OUTER-PRODUCT matrix
    * gradient ∂L/∂W = h⊗Δt — the way #78 pins the diagonal case.
    * Exactness: dyadic contraction terms (exact in any order), scale-9
    * quantized means, mirrored correctly-rounded update ops.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame =
    step(spark, dir, model)

  val trainStepSql: String = {
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
       |wdims AS (SELECT unnest(range(0, $DW)) AS j),
       |eids AS (SELECT DISTINCT id FROM (
       |  SELECT sid AS id FROM mb
       |  UNION ALL SELECT oid FROM mb
       |  UNION ALL SELECT nid FROM mb)),
       |e0 AS MATERIALIZED (
       |  SELECT id, i, ${PortableHash.duckDyadic("'SE|' || id || '|' || i")} AS v
       |  FROM eids, dims
       |),
       |w0 AS MATERIALIZED (
       |  SELECT id, j, ${PortableHash.duckDyadic("'SW|' || id || '|' || j")} AS v
       |  FROM (SELECT DISTINCT pid AS id FROM mb), wdims
       |),
       |trip AS MATERIALIZED (
       |  SELECT mb.sid, mb.pid, mb.oid, mb.nid, eh.i AS a, et.i AS b,
       |    eh.v AS h, w0.v AS w, et.v AS t, en.v AS tn
       |  FROM mb
       |  JOIN e0 eh ON eh.id = mb.sid
       |  JOIN e0 et ON et.id = mb.oid
       |  JOIN e0 en ON en.id = mb.nid AND en.i = et.i
       |  JOIN w0 ON w0.id = mb.pid AND w0.j = eh.i * $D + et.i
       |),
       |act AS (
       |  SELECT sid, pid, oid, nid FROM trip
       |  GROUP BY 1, 2, 3, 4
       |  HAVING $Margin + SUM((w * h) * tn) - SUM((w * h) * t) > 0
       |),
       |gce AS (
       |  SELECT tr.sid AS id, tr.a AS i, SUM(tr.w * (tr.tn - tr.t)) AS g
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  GROUP BY tr.sid, tr.pid, tr.oid, tr.nid, tr.a
       |  UNION ALL
       |  SELECT tr.oid, tr.b, -(SUM(tr.h * tr.w))
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  GROUP BY tr.sid, tr.pid, tr.oid, tr.nid, tr.b
       |  UNION ALL
       |  SELECT tr.nid, tr.b, SUM(tr.h * tr.w)
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  GROUP BY tr.sid, tr.pid, tr.oid, tr.nid, tr.b
       |),
       |gme AS (
       |  SELECT id, i, ${Exact.duckAvg("g", 9)} AS g
       |  FROM gce GROUP BY id, i
       |),
       |gcw AS (
       |  SELECT tr.pid AS id, tr.a * $D + tr.b AS j,
       |    tr.h * (tr.tn - tr.t) AS g
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |),
       |gmw AS (
       |  SELECT id, j, ${Exact.duckAvg("g", 9)} AS g
       |  FROM gcw GROUP BY id, j
       |)
       |SELECT 'e' AS kind, e0.id, CAST(e0.i AS INT) AS i,
       |  COALESCE(e0.v - $Lr * gme.g, e0.v) AS v
       |FROM e0 LEFT JOIN gme ON gme.id = e0.id AND gme.i = e0.i
       |UNION ALL
       |SELECT 'w', w0.id, CAST(w0.j AS INT),
       |  COALESCE(w0.v - $Lr * gmw.g, w0.v)
       |FROM w0 LEFT JOIN gmw ON gmw.id = w0.id AND gmw.j = w0.j""".stripMargin
  }

  /** #104: returns (epoch, loss) rows; loss decreases over the first
    * epochs (asserted by RescalTrainerSpec).
    */
  def train(spark: SparkSession, dir: String): DataFrame =
    losses(spark, dir, model)
}
