package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Exact, PortableHash}
import graft.functions.VectorFolds
import graft.rdf.Dict

/** #104/#105: distributed RESCAL training — the FULL bilinear model
  * (kge/hole.py:181-218 `RescalModel`, score = hᵀ W_p t with a dense
  * d×d matrix per relation; DistMult is its diagonal special case),
  * trained with the same max-margin ranking loss, deterministic
  * minibatch, and corrupted-object machinery as the sibling trainers
  * (reference loop: TransE.scala:96-147 swaps models behind the same
  * loss). Completes the trainer family: every scored model (TransE,
  * DistMult, RESCAL, HolE, ComplEx) now also trains.
  *
  * Gradients (hinge active ⇒ ∂L = ∂f(neg) − ∂f(pos), corrupted object
  * tn, Δt = tn − t):
  *   ∂L/∂h      = W·Δt            (matrix–vector)
  *   ∂L/∂W_{ab} = h_a·Δt_b        (outer product — the part DistMult
  *                                 has no analogue of)
  *   ∂L/∂t      = −(hᵀW),  ∂L/∂tn = +(hᵀW)
  *
  * Scale shape: identical to [[DistMultTrainer]] — id-keyed embedding
  * frames (entities d=8 arrays, relations d²=64 flat row-major W
  * arrays), one epoch = join → active-hinge filter → keyed
  * mean-gradient → update join, localCheckpoint lineage truncation,
  * embeddings never on the driver. The relation table stays broadcast
  * (J relations × 64 doubles). All gradient contractions are sums of
  * dyadic products (denominator 2^14, ≤ d terms) — exact in any
  * summation order, which is what lets the oracle mirror them as plain
  * SUMs.
  */
object RescalTrainer {

  val D = 8
  val DW = D * D
  val Margin = 1.0
  val Lr = 0.1
  val Epochs = 3

  private def initVec(kind: String, id: Column, n: Int): Column =
    array((0 until n).map(i => PortableHash.dyadic(
      concat_ws("|", lit(kind), id.cast("string"), lit(i.toString)))): _*)

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

  /** #105: ONE closed-form full-batch GD step — the epoch-1 entity AND
    * relation-matrix tables in long (kind, id, i, v) form as a single
    * LAZY plan, with a DuckDB oracle. Pins the FULL-BILINEAR gradient
    * algebra — the matvec/vecmat contractions and, uniquely in the
    * trainer family, the OUTER-PRODUCT matrix gradient ∂L/∂W = h⊗Δt —
    * the way #78 pins the diagonal case. Exactness: dyadic contraction
    * terms (exact in any order), scale-9 quantized means, mirrored
    * correctly-rounded update ops.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame = {
    val x = TrainData.minibatch(spark, dir)
    val ent0 = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct().withColumn("vec", initVec("SE", col("id"), D))
    val w0 = x.select(col("pid").as("id")).distinct()
      .withColumn("vec", initVec("SW", col("id"), DW))
    val j = x
      .join(ent0.select(col("id").as("sid"), col("vec").as("h")), "sid")
      .join(ent0.select(col("id").as("oid"), col("vec").as("t")), "oid")
      .join(ent0.select(col("id").as("nid"), col("vec").as("tn")), "nid")
      .join(broadcast(w0.select(col("id").as("pid"), col("vec").as("w"))), "pid")
    val fPos = VectorFolds.bilinear(col("w"), col("h"), col("t"))
    val fNeg = VectorFolds.bilinear(col("w"), col("h"), col("tn"))
    val active = j.filter((lit(Margin) + fNeg - fPos) > 0)
      .withColumn("htw", vecmat(col("h"), col("w")))
    val entGrad = active
      .select(
        matvec(col("w"), dt).as("gh"),
        transform(col("htw"), v => -v).as("gt"),
        col("htw").as("gn"),
        col("sid"), col("oid"), col("nid"))
      .select(explode(array(
        struct(col("sid").as("id"), col("gh").as("g")),
        struct(col("oid").as("id"), col("gt").as("g")),
        struct(col("nid").as("id"), col("gn").as("g")))).as("c"))
      .select(col("c.id").as("id"), col("c.g").as("g"))
    val wGrad = active
      .select(col("pid").as("id"), outer(col("h"), dt).as("g"))
    def meanGrad(rows: DataFrame, n: Int): DataFrame = {
      val dims = (0 until n).map(i =>
        Exact.decAvg(element_at(col("g"), i + 1), 9).as(s"_g$i"))
      rows.groupBy("id").agg(dims.head, dims.tail: _*)
        .select(col("id"), array((0 until n).map(i => col(s"_g$i")): _*).as("gvec"))
    }
    def updated(base: DataFrame, grads: DataFrame, kind: String): DataFrame =
      base.join(grads, Seq("id"), "left")
        .select(col("id"), when(col("gvec").isNull, col("vec"))
          .otherwise(zip_with(col("vec"), col("gvec"),
            (v, g) => v - lit(Lr) * g)).as("vec"))
        .select(lit(kind).as("kind"), col("id"),
          posexplode(col("vec")).as(Seq("i", "v")))
    updated(ent0, meanGrad(entGrad, D), "e")
      .unionByName(updated(w0, meanGrad(wGrad, DW), "w"))
  }

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
  def train(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = TrainData.minibatch(spark, dir)

    var ent = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct().withColumn("vec", initVec("SE", col("id"), D)).localCheckpoint()
    var wrel = x.select(col("pid").as("id")).distinct()
      .withColumn("vec", initVec("SW", col("id"), DW)).localCheckpoint()

    def joined: DataFrame =
      x.join(ent.select(col("id").as("sid"), col("vec").as("h")), "sid")
        .join(ent.select(col("id").as("oid"), col("vec").as("t")), "oid")
        .join(ent.select(col("id").as("nid"), col("vec").as("tn")), "nid")
        .join(broadcast(wrel.select(col("id").as("pid"), col("vec").as("w"))), "pid")

    def fPos: Column = VectorFolds.bilinear(col("w"), col("h"), col("t"))
    def fNeg: Column = VectorFolds.bilinear(col("w"), col("h"), col("tn"))

    def lossOf(df: DataFrame): Double =
      df.select(greatest(lit(0.0), lit(Margin) + fNeg - fPos).as("l"))
        .agg(Exact.decSum(col("l"))).head().getDouble(0)

    val losses = Seq.newBuilder[(Int, Double)]
    for (epoch <- 1 to Epochs) {
      val j = joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      losses += ((epoch - 1, lossOf(j)))
      val active = j.filter((lit(Margin) + fNeg - fPos) > 0)
        .withColumn("htw", vecmat(col("h"), col("w")))
      val entGrad = active
        .select(
          matvec(col("w"), dt).as("gh"),
          transform(col("htw"), v => -v).as("gt"),
          col("htw").as("gn"),
          col("sid"), col("oid"), col("nid"))
        .select(explode(array(
          struct(col("sid").as("id"), col("gh").as("g")),
          struct(col("oid").as("id"), col("gt").as("g")),
          struct(col("nid").as("id"), col("gn").as("g")))).as("c"))
        .select(col("c.id").as("id"), col("c.g").as("g"))
      val wGrad = active
        .select(col("pid").as("id"), outer(col("h"), dt).as("g"))
      def meanGrad(rows: DataFrame, n: Int): DataFrame = {
        val dims = (0 until n).map(i =>
          Exact.decAvg(element_at(col("g"), i + 1), 9).as(s"_g$i"))
        rows.groupBy("id").agg(dims.head, dims.tail: _*)
          .select(col("id"), array((0 until n).map(i => col(s"_g$i")): _*).as("gvec"))
      }
      def applyGrad(f: DataFrame, grads: DataFrame): DataFrame =
        f.join(grads, Seq("id"), "left")
          .select(col("id"), when(col("gvec").isNull, col("vec"))
            .otherwise(zip_with(col("vec"), col("gvec"),
              (v, g) => v - lit(Lr) * g)).as("vec"))

      val entNext = applyGrad(ent, meanGrad(entGrad, D)).localCheckpoint()
      val wrelNext = applyGrad(wrel, meanGrad(wGrad, DW)).localCheckpoint()
      j.unpersist()
      // the superseded generation is dead once its successor exists
      Seq(ent, wrel).foreach(Caches.releaseCheckpoint)
      ent = entNext
      wrel = wrelNext
    }
    losses += ((Epochs, lossOf(joined)))
    // only the losses leave this call: the final state is freed too
    Seq(ent, wrel).foreach(Caches.releaseCheckpoint)
    losses.result().toDF("epoch", "loss")
  }
}
