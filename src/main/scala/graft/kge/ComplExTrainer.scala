package graft.kge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Exact, PortableHash}
import graft.functions.VectorFolds

/** #77: distributed ComplEx training — completes the trainer family for
  * the bilinear models (#73 added the scoring side).
  *
  * Model (Trouillon et al. ICML'16, the complex generalization of the
  * reference's bilinear family, kge/hole.py:181-218):
  *   f(s,p,o) = Re⟨h, r, conj(t)⟩
  *            = Σ_i hre·rre·tre + him·rim·tre + hre·rim·tim − him·rre·tim
  * trained with the same max-margin loss / deterministic minibatch /
  * corrupted-object machinery as [[DistMultTrainer]]. Gradients are the
  * six complex partials; hinge-active ⇒ ∂L = ∂f(neg) − ∂f(pos):
  *   ∂f/∂hre = rre∘tre + rim∘tim     ∂f/∂him = rim∘tre − rre∘tim
  *   ∂f/∂rre = hre∘tre − him∘tim     ∂f/∂rim = him∘tre + hre∘tim
  *   ∂f/∂tre = hre∘rre + him∘rim     ∂f/∂tim = hre∘rim − him∘rre
  *
  * Scale shape: identical to the other trainers — id-keyed embedding
  * frames holding BOTH component arrays (id, re, im) (the round-4
  * production layout for complex embeddings: one bucketed table, one
  * join per triple side, not two), per-epoch keyed mean-gradient
  * aggregation, localCheckpoint lineage truncation, embeddings never on
  * the driver.
  */
object ComplExTrainer {

  val D = 8
  val Margin = 1.0
  val Lr = 0.1
  val Epochs = 3

  private def initVec(kind: String, id: Column): Column =
    array((0 until D).map(i => PortableHash.dyadic(
      concat_ws("|", lit(kind), id.cast("string"), lit(i.toString)))): _*)

  /** #106: ONE closed-form full-batch GD step — the epoch-1 entity table
    * of #77 in long (id, i, vre, vim) form as a single LAZY plan, with a
    * DuckDB oracle. Pins the COMPLEX gradient family (the four
    * sign/cross component patterns rre∘t ± rim∘t̃ the six partials are
    * built from — the entity partials already exercise all of them), the
    * way #78 pins the real-bilinear case. Exactness: dyadic products,
    * scale-9 quantized means, mirrored correctly-rounded updates, both
    * components updated side by side.
    */
  def trainStep(spark: SparkSession, dir: String): DataFrame = {
    val x = TrainData.minibatch(spark, dir)
    val ent0 = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct()
      .withColumn("re", initVec("XE", col("id")))
      .withColumn("im", initVec("XEI", col("id")))
    val rel0 = x.select(col("pid").as("id")).distinct()
      .withColumn("re", initVec("XR", col("id")))
      .withColumn("im", initVec("XRI", col("id")))
    def side(f: DataFrame, key: String, re: String, im: String): DataFrame =
      f.select(col("id").as(key), col("re").as(re), col("im").as(im))
    val j = x.join(side(ent0, "sid", "hre", "him"), "sid")
      .join(side(ent0, "oid", "tre", "tim"), "oid")
      .join(side(ent0, "nid", "nre", "nim"), "nid")
      .join(broadcast(side(rel0, "pid", "rre", "rim")), "pid")
    def score(tre: String, tim: String): Column =
      VectorFolds.dot3(col("hre"), col("rre"), col(tre)) +
        VectorFolds.dot3(col("him"), col("rim"), col(tre)) +
        VectorFolds.dot3(col("hre"), col("rim"), col(tim)) -
        VectorFolds.dot3(col("him"), col("rre"), col(tim))
    def had(a: String, b: String): Column = zip_with(col(a), col(b), _ * _)
    def hadSum(a: String, b: String, c: String, d: String): Column =
      zip_with(had(a, b), had(c, d), _ + _)
    def hadDiff(a: String, b: String, c: String, d: String): Column =
      zip_with(had(a, b), had(c, d), _ - _)
    val gradRows = j
      .filter((lit(Margin) + score("nre", "nim") - score("tre", "tim")) > 0)
      .select(col("sid"), col("oid"), col("nid"),
        zip_with(hadSum("rre", "nre", "rim", "nim"),
          hadSum("rre", "tre", "rim", "tim"), _ - _).as("ghre"),
        zip_with(hadDiff("rim", "nre", "rre", "nim"),
          hadDiff("rim", "tre", "rre", "tim"), _ - _).as("ghim"),
        transform(hadSum("hre", "rre", "him", "rim"), a => -a).as("gtre"),
        transform(hadDiff("hre", "rim", "him", "rre"), a => -a).as("gtim"),
        hadSum("hre", "rre", "him", "rim").as("gnre"),
        hadDiff("hre", "rim", "him", "rre").as("gnim"))
      .select(explode(array(
        struct(col("sid").as("id"), col("ghre").as("gre"), col("ghim").as("gim")),
        struct(col("oid").as("id"), col("gtre").as("gre"), col("gtim").as("gim")),
        struct(col("nid").as("id"), col("gnre").as("gre"), col("gnim").as("gim")))).as("c"))
      .select(col("c.id").as("id"), col("c.gre").as("gre"), col("c.gim").as("gim"))
    val dimAggs =
      (0 until D).map(i =>
        Exact.decAvg(element_at(col("gre"), i + 1), 9).as(s"_gre$i")) ++
      (0 until D).map(i =>
        Exact.decAvg(element_at(col("gim"), i + 1), 9).as(s"_gim$i"))
    val grads = gradRows.groupBy("id")
      .agg(dimAggs.head, dimAggs.tail: _*)
      .select(col("id"),
        array((0 until D).map(i => col(s"_gre$i")): _*).as("gvre"),
        array((0 until D).map(i => col(s"_gim$i")): _*).as("gvim"))
    ent0.join(grads, Seq("id"), "left")
      .select(col("id"),
        when(col("gvre").isNull, col("re")).otherwise(
          zip_with(col("re"), col("gvre"), (v, g) => v - lit(Lr) * g)).as("re"),
        when(col("gvim").isNull, col("im")).otherwise(
          zip_with(col("im"), col("gvim"), (v, g) => v - lit(Lr) * g)).as("im"))
      .select(col("id"), posexplode(arrays_zip(col("re"), col("im"))).as(Seq("i", "c")))
      .select(col("id"), col("i"), col("c.re").as("vre"), col("c.im").as("vim"))
  }

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
  def train(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = TrainData.minibatch(spark, dir)

    var ent = x.select(explode(array(col("sid"), col("oid"), col("nid"))).as("id"))
      .distinct()
      .withColumn("re", initVec("XE", col("id")))
      .withColumn("im", initVec("XEI", col("id"))).localCheckpoint()
    var rel = x.select(col("pid").as("id")).distinct()
      .withColumn("re", initVec("XR", col("id")))
      .withColumn("im", initVec("XRI", col("id"))).localCheckpoint()

    def side(f: DataFrame, key: String, re: String, im: String): DataFrame =
      f.select(col("id").as(key), col("re").as(re), col("im").as(im))

    def joined: DataFrame =
      x.join(side(ent, "sid", "hre", "him"), "sid")
        .join(side(ent, "oid", "tre", "tim"), "oid")
        .join(side(ent, "nid", "nre", "nim"), "nid")
        .join(broadcast(side(rel, "pid", "rre", "rim")), "pid")

    // Re⟨h, r, conj(t)⟩ as four fused codegen folds (#73's formulation)
    def score(tre: String, tim: String): Column =
      VectorFolds.dot3(col("hre"), col("rre"), col(tre)) +
        VectorFolds.dot3(col("him"), col("rim"), col(tre)) +
        VectorFolds.dot3(col("hre"), col("rim"), col(tim)) -
        VectorFolds.dot3(col("him"), col("rre"), col(tim))
    def fPos: Column = score("tre", "tim")
    def fNeg: Column = score("nre", "nim")

    def lossOf(df: DataFrame): Double =
      df.select(greatest(lit(0.0), lit(Margin) + fNeg - fPos).as("l"))
        .agg(Exact.decSum(col("l"))).head().getDouble(0)

    // elementwise a∘b ± c∘d
    def had(a: String, b: String): Column =
      zip_with(col(a), col(b), _ * _)
    def hadSum(a: String, b: String, c: String, d: String): Column =
      zip_with(had(a, b), had(c, d), _ + _)
    def hadDiff(a: String, b: String, c: String, d: String): Column =
      zip_with(had(a, b), had(c, d), _ - _)

    val losses = Seq.newBuilder[(Int, Double)]
    for (epoch <- 1 to Epochs) {
      val j = joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      losses += ((epoch - 1, lossOf(j)))
      // ∂L = ∂f(neg) − ∂f(pos) on active hinges; tails split into the
      // pure-positive (t) and pure-negative (tn) slots
      val gradRows = j
        .filter((lit(Margin) + fNeg - fPos) > 0)
        .select(col("sid"), col("pid"), col("oid"), col("nid"),
          zip_with(hadSum("rre", "nre", "rim", "nim"),
            hadSum("rre", "tre", "rim", "tim"), _ - _).as("ghre"),
          zip_with(hadDiff("rim", "nre", "rre", "nim"),
            hadDiff("rim", "tre", "rre", "tim"), _ - _).as("ghim"),
          zip_with(hadDiff("hre", "nre", "him", "nim"),
            hadDiff("hre", "tre", "him", "tim"), _ - _).as("grre"),
          zip_with(hadSum("him", "nre", "hre", "nim"),
            hadSum("him", "tre", "hre", "tim"), _ - _).as("grim"),
          transform(hadSum("hre", "rre", "him", "rim"), a => -a).as("gtre"),
          transform(hadDiff("hre", "rim", "him", "rre"), a => -a).as("gtim"),
          hadSum("hre", "rre", "him", "rim").as("gnre"),
          hadDiff("hre", "rim", "him", "rre").as("gnim"))
        .select(explode(array(
          struct(col("sid").as("id"), lit("e").as("kind"),
            col("ghre").as("gre"), col("ghim").as("gim")),
          struct(col("oid").as("id"), lit("e").as("kind"),
            col("gtre").as("gre"), col("gtim").as("gim")),
          struct(col("nid").as("id"), lit("e").as("kind"),
            col("gnre").as("gre"), col("gnim").as("gim")),
          struct(col("pid").as("id"), lit("r").as("kind"),
            col("grre").as("gre"), col("grim").as("gim")))).as("c"))
        .select(col("c.id").as("id"), col("c.kind").as("kind"),
          col("c.gre").as("gre"), col("c.gim").as("gim"))
      val dimAggs =
        (0 until D).map(i =>
          Exact.decAvg(element_at(col("gre"), i + 1), 9).as(s"_gre$i")) ++
        (0 until D).map(i =>
          Exact.decAvg(element_at(col("gim"), i + 1), 9).as(s"_gim$i"))
      val grads = gradRows.groupBy("kind", "id")
        .agg(dimAggs.head, dimAggs.tail: _*)
        .select(col("kind"), col("id"),
          array((0 until D).map(i => col(s"_gre$i")): _*).as("gvre"),
          array((0 until D).map(i => col(s"_gim$i")): _*).as("gvim"))

      def applyGrad(f: DataFrame, kind: String): DataFrame =
        f.join(grads.filter(col("kind") === kind)
            .select(col("id"), col("gvre"), col("gvim")), Seq("id"), "left")
          .select(col("id"),
            when(col("gvre").isNull, col("re")).otherwise(
              zip_with(col("re"), col("gvre"), (v, g) => v - lit(Lr) * g)).as("re"),
            when(col("gvim").isNull, col("im")).otherwise(
              zip_with(col("im"), col("gvim"), (v, g) => v - lit(Lr) * g)).as("im"))

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
