package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Exact, PortableHash}
import graft.rdf.Dict

/** #44: distributed DistMult training — the bilinear-diagonal model
  * (kge/hole.py:181-218 `RescalModel`'s diagonal special case) trained
  * with the same max-margin ranking loss and full-batch deterministic
  * GD as [[TransETrainer]] (reference loop: TransE.scala:96-147 swaps
  * models behind the same loss; sampling per TransE.scala:92-93).
  *
  * Model: score(s,p,o) = Σ_i h_i·r_i·t_i, loss = Σ max(0, γ + f(neg) −
  * f(pos)) over one corrupted-object negative per triple. Gradients:
  *   ∂f/∂h = r∘t, ∂f/∂r = h∘t, ∂f/∂t = h∘r
  * (+ for the positive term, − for the negative, on active hinges).
  *
  * Same scale shape as TransETrainer: id-keyed embedding DataFrames, one
  * epoch = join + map + explode + groupBy(id) mean-gradient, update join,
  * localCheckpoint to truncate lineage. Embeddings never reach the
  * driver; the returned frame is (epoch, loss) only.
  */
object DistMultTrainer {

  val D = 8
  val Margin = 1.0
  val Lr = 0.1
  val Epochs = 3

  private def initVec(kind: String, id: Column): Column =
    array((0 until D).map(i => PortableHash.dyadic(
      concat_ws("|", lit(kind), id.cast("string"), lit(i.toString)))): _*)

  /** #78: ONE closed-form full-batch GD step — the epoch-1 entity table
    * of #44 in long (id, i, v) form, as a single LAZY plan (join →
    * active-hinge filter → keyed mean-gradient → update join; no loop,
    * so PlanGuard inspects it like any batch query). Second
    * hash-matched oracle for the trainer family, pinning the BILINEAR
    * gradient algebra (∂f = r∘t / h∘t / h∘r products) the way
    * `kge_transe_train_step` pins the translational one. Exactness:
    * identical story — dyadic terms, scale-9 quantized means, mirrored
    * correctly-rounded update ops.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame = {
    val x = TrainData.minibatch(spark, dir)
    val ent0 = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct().withColumn("vec", initVec("DE", col("id")))
    val rel0 = x.select(col("pid").as("id")).distinct()
      .withColumn("vec", initVec("DR", col("id")))
    val j = x
      .join(ent0.select(col("id").as("sid"), col("vec").as("h")), "sid")
      .join(ent0.select(col("id").as("oid"), col("vec").as("t")), "oid")
      .join(ent0.select(col("id").as("nid"), col("vec").as("tn")), "nid")
      .join(broadcast(rel0.select(col("id").as("pid"), col("vec").as("r"))), "pid")
    def dot3(a: Column, b: Column, c: Column): Column =
      aggregate(zip_with(zip_with(a, b, _ * _), c, _ * _),
        lit(0.0), (acc, v) => acc + v)
    val fPos = dot3(col("h"), col("r"), col("t"))
    val fNeg = dot3(col("h"), col("r"), col("tn"))
    val gradRows = j
      .filter((lit(Margin) + fNeg - fPos) > 0)
      .select(
        zip_with(zip_with(col("r"), col("tn"), _ * _),
          zip_with(col("r"), col("t"), _ * _), _ - _).as("gh"),
        zip_with(col("h"), col("r"), (a, b) => -(a * b)).as("gt"),
        zip_with(col("h"), col("r"), _ * _).as("gn"),
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
  def train(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shared deterministic minibatch (TrainData): reference-shaped
    // minibatch training, one build for all trainer entries
    val x = TrainData.minibatch(spark, dir)

    var ent = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct().withColumn("vec", initVec("DE", col("id"))).localCheckpoint()
    var rel = x.select(col("pid").as("id")).distinct()
      .withColumn("vec", initVec("DR", col("id"))).localCheckpoint()

    def joined: DataFrame =
      x.join(ent.select(col("id").as("sid"), col("vec").as("h")), "sid")
        .join(ent.select(col("id").as("oid"), col("vec").as("t")), "oid")
        .join(ent.select(col("id").as("nid"), col("vec").as("tn")), "nid")
        .join(broadcast(rel.select(col("id").as("pid"), col("vec").as("r"))), "pid")

    def dot3(a: Column, b: Column, c: Column): Column =
      aggregate(zip_with(zip_with(a, b, _ * _), c, _ * _),
        lit(0.0), (acc, v) => acc + v)
    def fPos: Column = dot3(col("h"), col("r"), col("t"))
    def fNeg: Column = dot3(col("h"), col("r"), col("tn"))

    def lossOf(df: DataFrame): Double =
      df.select(greatest(lit(0.0), lit(Margin) + fNeg - fPos).as("l"))
        .agg(Exact.decSum(col("l"))).head().getDouble(0)

    val losses = Seq.newBuilder[(Int, Double)]
    for (epoch <- 1 to Epochs) {
      val j = joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      losses += ((epoch - 1, lossOf(j)))
      // hinge active ⇒ ∂L = ∂f(neg) − ∂f(pos):
      //   ∂L/∂h = r∘tn − r∘t, ∂L/∂r = h∘tn − h∘t,
      //   ∂L/∂t = −h∘r, ∂L/∂tn = h∘r
      val gradRows = j
        .filter((lit(Margin) + fNeg - fPos) > 0)
        .select(col("sid"), col("pid"), col("oid"), col("nid"),
          zip_with(zip_with(col("r"), col("tn"), _ * _),
            zip_with(col("r"), col("t"), _ * _), _ - _).as("gh"),
          zip_with(zip_with(col("h"), col("tn"), _ * _),
            zip_with(col("h"), col("t"), _ * _), _ - _).as("gr"),
          zip_with(col("h"), col("r"), (a, b) => -(a * b)).as("gt"),
          zip_with(col("h"), col("r"), _ * _).as("gn"))
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
    losses += ((Epochs, lossOf(joined)))
    // only the losses leave this call: the final state is freed too
    Seq(ent, rel).foreach(Caches.releaseCheckpoint)
    losses.result().toDF("epoch", "loss")
  }
}
