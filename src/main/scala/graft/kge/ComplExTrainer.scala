package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, PortableHash}
import graft.functions.VectorFolds
import graft.kge.HingeTrainer._

/** #77: distributed ComplEx training — completes the trainer family for
  * the bilinear models (#73 added the scoring side).
  *
  * Model (Trouillon et al. ICML'16, the complex generalization of the
  * reference's bilinear family, kge/hole.py:181-218):
  *   f(s,p,o) = Re⟨h, r, conj(t)⟩
  *            = Σ_i hre·rre·tre + him·rim·tre + hre·rim·tim − him·rre·tim
  * trained with the same max-margin loss / deterministic minibatch /
  * corrupted-object machinery as [[DistMultTrainer]], through
  * [[HingeTrainer]]'s shared epoch loop. Gradients are the six complex
  * partials; hinge-active ⇒ ∂L = ∂f(neg) − ∂f(pos):
  *   ∂f/∂hre = rre∘tre + rim∘tim     ∂f/∂him = rim∘tre − rre∘tim
  *   ∂f/∂rre = hre∘tre − him∘tim     ∂f/∂rim = him∘tre + hre∘tim
  *   ∂f/∂tre = hre∘rre + him∘rim     ∂f/∂tim = hre∘rim − him∘rre
  *
  * Layout: each id's `vec` holds BOTH components, re ++ im (2d wide) —
  * the round-4 production layout for complex embeddings: one table, one
  * join per triple side, not two. The update is elementwise, so it steps
  * both components side by side.
  */
object ComplExTrainer {

  val Lr = 0.1

  private def re(c: String): Column = slice(col(c), 1, D)
  private def im(c: String): Column = slice(col(c), D + 1, D)

  // elementwise a∘b ± c∘d
  private def had(a: Column, b: Column): Column = zip_with(a, b, _ * _)
  private def hadSum(a: Column, b: Column, c: Column, d: Column): Column =
    zip_with(had(a, b), had(c, d), _ + _)
  private def hadDiff(a: Column, b: Column, c: Column, d: Column): Column =
    zip_with(had(a, b), had(c, d), _ - _)

  /** ∂f(neg) − ∂f(pos) of one component, `part` the partial of a tail. */
  private def negMinusPos(part: String => Column): Column =
    zip_with(part("tn"), part("t"), _ - _)

  val model: HingeModel = HingeModel(
    ent = Seq("XE" -> D, "XEI" -> D), rel = Seq("XR" -> D, "XRI" -> D),
    lr = Lr, distance = false,
    // Re⟨h, r, conj(t)⟩ as four fused codegen folds (#73's formulation)
    score = t => {
      val (tre, tim) = (slice(t, 1, D), slice(t, D + 1, D))
      VectorFolds.dot3(re("h"), re("r"), tre) +
        VectorFolds.dot3(im("h"), im("r"), tre) +
        VectorFolds.dot3(re("h"), im("r"), tim) -
        VectorFolds.dot3(im("h"), re("r"), tim)
    },
    grads = (
      concat(negMinusPos(x => hadSum(re("r"), re(x), im("r"), im(x))),
        negMinusPos(x => hadDiff(im("r"), re(x), re("r"), im(x)))),
      concat(transform(hadSum(re("h"), re("r"), im("h"), im("r")), a => -a),
        transform(hadDiff(re("h"), im("r"), im("h"), re("r")), a => -a)),
      concat(hadSum(re("h"), re("r"), im("h"), im("r")),
        hadDiff(re("h"), im("r"), im("h"), re("r"))),
      concat(negMinusPos(x => hadDiff(re("h"), re(x), im("h"), im(x))),
        negMinusPos(x => hadSum(im("h"), re(x), re("h"), im(x))))),
    // (id, i, vre, vim) long form of the entity table
    project = (ent, _) => ent
      .select(col("id"), re("vec").as("re"), im("vec").as("im"))
      .select(col("id"), posexplode(arrays_zip(col("re"), col("im"))).as(Seq("i", "c")))
      .select(col("id"), col("i"), col("c.re").as("vre"), col("c.im").as("vim")))

  /** #106: ONE closed-form full-batch GD step — the epoch-1 entity table
    * of #77 in long (id, i, vre, vim) form as [[HingeTrainer]]'s single
    * LAZY plan, with a DuckDB oracle. Pins the COMPLEX gradient family
    * (the four sign/cross component patterns rre∘t ± rim∘t̃ the six
    * partials are built from — the entity partials already exercise all
    * of them), the way #78 pins the real-bilinear case. Exactness:
    * dyadic products, scale-9 quantized means, mirrored correctly-rounded
    * updates, both components updated side by side.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame =
    step(spark, dir, model)

  val trainStepSql: String = {
    import graft.rdf.Dict
    val mbHash = PortableHash.duck("'mb|' || sid || '|' || pid || '|' || oid")
    val negHash = PortableHash.duck("'neg|' || sid || '|' || pid || '|' || oid")
    // the trainer's score written per-dimension (dyadic ⇒ order-free):
    def f(tre: String, tim: String) =
      s"SUM(((hre * rre) * $tre) + ((him * rim) * $tre)" +
        s" + ((hre * rim) * $tim) - ((him * rre) * $tim))"
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
       |  SELECT id, i,
       |    ${PortableHash.duckDyadic("'XE|' || id || '|' || i")} AS vre,
       |    ${PortableHash.duckDyadic("'XEI|' || id || '|' || i")} AS vim
       |  FROM eids, dims
       |),
       |r0 AS MATERIALIZED (
       |  SELECT id, i,
       |    ${PortableHash.duckDyadic("'XR|' || id || '|' || i")} AS vre,
       |    ${PortableHash.duckDyadic("'XRI|' || id || '|' || i")} AS vim
       |  FROM (SELECT DISTINCT pid AS id FROM mb), dims
       |),
       |trip AS MATERIALIZED (
       |  SELECT mb.sid, mb.pid, mb.oid, mb.nid, eh.i,
       |    eh.vre AS hre, eh.vim AS him, r0.vre AS rre, r0.vim AS rim,
       |    et.vre AS tre, et.vim AS tim, en.vre AS nre, en.vim AS nim
       |  FROM mb
       |  JOIN e0 eh ON eh.id = mb.sid
       |  JOIN r0 ON r0.id = mb.pid AND r0.i = eh.i
       |  JOIN e0 et ON et.id = mb.oid AND et.i = eh.i
       |  JOIN e0 en ON en.id = mb.nid AND en.i = eh.i
       |),
       |act AS (
       |  SELECT sid, pid, oid, nid FROM trip
       |  GROUP BY 1, 2, 3, 4
       |  HAVING $Margin + ${f("nre", "nim")} - ${f("tre", "tim")} > 0
       |),
       |gc AS (
       |  SELECT tr.sid AS id, tr.i,
       |    ((tr.rre * tr.nre) + (tr.rim * tr.nim))
       |      - ((tr.rre * tr.tre) + (tr.rim * tr.tim)) AS gre,
       |    ((tr.rim * tr.nre) - (tr.rre * tr.nim))
       |      - ((tr.rim * tr.tre) - (tr.rre * tr.tim)) AS gim
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.oid, tr.i,
       |    -((tr.hre * tr.rre) + (tr.him * tr.rim)),
       |    -((tr.hre * tr.rim) - (tr.him * tr.rre))
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |  UNION ALL
       |  SELECT tr.nid, tr.i,
       |    (tr.hre * tr.rre) + (tr.him * tr.rim),
       |    (tr.hre * tr.rim) - (tr.him * tr.rre)
       |  FROM trip tr JOIN act USING (sid, pid, oid, nid)
       |),
       |gm AS (
       |  SELECT id, i, ${Exact.duckAvg("gre", 9)} AS gre,
       |    ${Exact.duckAvg("gim", 9)} AS gim
       |  FROM gc GROUP BY id, i
       |)
       |SELECT e0.id, CAST(e0.i AS INT) AS i,
       |  COALESCE(e0.vre - $Lr * gm.gre, e0.vre) AS vre,
       |  COALESCE(e0.vim - $Lr * gm.gim, e0.vim) AS vim
       |FROM e0 LEFT JOIN gm ON gm.id = e0.id AND gm.i = e0.i""".stripMargin
  }

  /** Returns (epoch, loss) rows; loss decreases over the first epochs. */
  def train(spark: SparkSession, dir: String): DataFrame =
    losses(spark, dir, model)
}
