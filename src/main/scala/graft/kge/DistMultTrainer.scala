package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, PortableHash}
import graft.kge.HingeTrainer._
import graft.rdf.Dict

/** #44: distributed DistMult training — the bilinear-diagonal model
  * (kge/hole.py:181-218 `RescalModel`'s diagonal special case) trained
  * with the same max-margin ranking loss and full-batch deterministic
  * GD as [[TransETrainer]], through [[HingeTrainer]]'s shared epoch loop
  * (reference loop: TransE.scala:96-147 swaps models behind the same
  * loss; sampling per TransE.scala:92-93).
  *
  * Model: score(s,p,o) = Σ_i h_i·r_i·t_i, loss = Σ max(0, γ + f(neg) −
  * f(pos)) over one corrupted-object negative per triple. Hinge active ⇒
  * ∂L = ∂f(neg) − ∂f(pos):
  *   ∂L/∂h = r∘tn − r∘t, ∂L/∂r = h∘tn − h∘t,
  *   ∂L/∂t = −h∘r, ∂L/∂tn = h∘r
  */
object DistMultTrainer {

  val Lr = 0.1

  private def had(a: Column, b: Column): Column = zip_with(a, b, _ * _)

  val model: HingeModel = HingeModel(
    ent = Seq("DE" -> D), rel = Seq("DR" -> D), lr = Lr, distance = false,
    score = t => aggregate(had(had(col("h"), col("r")), t),
      lit(0.0), (acc, v) => acc + v),
    grads = (
      zip_with(had(col("r"), col("tn")), had(col("r"), col("t")), _ - _),
      zip_with(col("h"), col("r"), (a, b) => -(a * b)),
      had(col("h"), col("r")),
      zip_with(had(col("h"), col("tn")), had(col("h"), col("t")), _ - _)),
    project = entityLong)

  /** #78: ONE closed-form full-batch GD step — the epoch-1 entity table
    * of #44 in long (id, i, v) form, as [[HingeTrainer]]'s single LAZY
    * plan (no loop, so PlanGuard inspects it like any batch query).
    * Second hash-matched oracle for the trainer family, pinning the
    * BILINEAR gradient algebra (∂f = r∘t / h∘t / h∘r products) the way
    * `kge_transe_train_step` pins the translational one. Exactness:
    * identical story — dyadic terms, scale-9 quantized means, mirrored
    * correctly-rounded update ops.
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
       |eids AS (SELECT DISTINCT id FROM (
       |  SELECT sid AS id FROM mb
       |  UNION ALL SELECT oid FROM mb
       |  UNION ALL SELECT nid FROM mb)),
       |e0 AS MATERIALIZED (
       |  SELECT id, i, ${PortableHash.duckDyadic("'DE|' || id || '|' || i")} AS v
       |  FROM eids, dims
       |),
       |r0 AS MATERIALIZED (
       |  SELECT id, i, ${PortableHash.duckDyadic("'DR|' || id || '|' || i")} AS v
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
       |  HAVING $Margin + SUM((h * r) * tn) - SUM((h * r) * t) > 0
       |),
       |gc AS (
       |  SELECT tr.sid AS id, tr.i, (tr.r * tr.tn) - (tr.r * tr.t) AS g
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.oid, tr.i, -(tr.h * tr.r)
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.nid, tr.i, tr.h * tr.r
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |),
       |gm AS (
       |  SELECT id, i, ${Exact.duckAvg("g", 9)} AS g
       |  FROM gc GROUP BY id, i
       |)
       |SELECT e0.id, CAST(e0.i AS INT) AS i,
       |  COALESCE(e0.v - $Lr * gm.g, e0.v) AS v
       |FROM e0 LEFT JOIN gm ON gm.id = e0.id AND gm.i = e0.i""".stripMargin
  }

  /** Returns (epoch, loss) rows; loss decreases over the first epochs. */
  def train(spark: SparkSession, dir: String): DataFrame =
    losses(spark, dir, model)
}
