package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Exact, PortableHash, Tables}
import graft.text.TextAnalysis

/** #119: one full-batch gradient step of a LOGISTIC-REGRESSION quality
  * classifier over the document quality features — the model-based
  * curation gate (GPT-3's LR quality filter over reference-corpus
  * features, CC-Net's fastText stage): heuristic labels are distilled
  * into a trained model whose score then replaces the heuristic at
  * serving time. Here the label is the house heuristic thresholded at a
  * dyadic 0.75 (y = [quality ≥ 3/4], ~60/40 at test SFs) and the step is
  * pinned hash-exact, the same way the five KGE gradient families are
  * (#75/78/79/105/106): emitted as (j, n_docs, w_old, grad, w_new) for
  * the bias + four features.
  *
  * Exactness: features are rational doubles (correctly-rounded IEEE ops
  * mirrored in literal order); z = Σ wⱼxⱼ is a 5-term literal-order
  * chain; σ(z) is the one transcendental, grid-quantized at scale 4 per
  * the house AGGREGATED-transcendental rule (Losses.scala: libm-vs-JVM
  * exp differs by ~1 ulp, and a term quantized differently would poison
  * the mean — the 1e-4 grid puts the per-row hazard at ~1e-12); after
  * that err·xⱼ are exact products of identical doubles, decSum(9)
  * order-independent, and the update w − lr·grad is two more mirrored
  * correctly-rounded ops.
  *
  * Scale (100 TB): ONE map-only pass computes features/σ/err in-row, the
  * gradient is a posexplode onto 5 keys with map-side combine — shuffle
  * bytes are 5 partials per partition regardless of corpus size; weights
  * are driver-side constants (the model is KB-sized, like every serving
  * classifier). Full training = this step iterated, exactly the KGE
  * trainer shape.
  */
object QualityClassifier {

  val Lr = 0.5      // dyadic
  val Thresh = 0.75 // dyadic label threshold on the heuristic score
  private val S = 9 // decSum scale: |err·x| ≤ 1, n·1e9 ≪ 2^63
  private val NF = 5

  /** Dyadic init weights (exact short-decimal doubles; the SAME literal
    * text is embedded in the oracle SQL).
    */
  val W0: Seq[Double] = (0 until NF).map(j => PortableHash.dyadicJvm(s"qlr:$j"))

  /** Feature frame: bias + the four quality ingredients + the heuristic
    * score the label distills.
    */
  private[pipeline] def features(spark: SparkSession,
      dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), TextAnalysis.words.as("ws"))
      .select(
        col("doc_id"),
        lit(1.0).as("x0"),
        least(TextAnalysis.nWords / 50.0, lit(1.0)).as("x1"),
        TextAnalysis.stopRatio.as("x2"),
        least(TextAnalysis.avgWordLen / 8.0, lit(1.0)).as("x3"),
        TextAnalysis.uniqRatio.as("x4"),
        TextAnalysis.quality.as("q"))

  /** z = Σ wⱼxⱼ in literal order — mirrored by the oracle. */
  private def zOf(w: Seq[Double]) = w.zipWithIndex
    .map { case (v, j) => lit(v) * col(s"x$j") }
    .reduceLeft(_ + _)

  /** Mean logistic loss of a weight vector on the corpus (spec/driver
    * diagnostic — the quantity a training loop logs per epoch).
    */
  def logLoss(spark: SparkSession, dir: String, w: Seq[Double]): Double =
    features(spark, dir)
      .withColumn("ypm", (col("q") >= Thresh).cast("int").cast("double") * 2.0
        - 1.0)
      .select(avg(log(lit(1.0) + exp(-(col("ypm") * zOf(w))))))
      .head.getDouble(0)

  def trainStep(spark: SparkSession, dir: String): DataFrame = {
    val feats = features(spark, dir)
    val z = zOf(W0)
    val err = feats
      .withColumn("y", (col("q") >= Thresh).cast("int").cast("double"))
      .withColumn("p", Exact.roundS(lit(1.0) / (lit(1.0) + exp(-z)), 4))
      .withColumn("err", col("p") - col("y"))
    val wArr = array(W0.map(lit): _*)
    err
      .select(col("err"),
        posexplode(array((0 until NF).map(j => col(s"x$j")): _*))
          .as(Seq("j", "x")))
      .groupBy("j")
      .agg(count(lit(1)).as("n_docs"),
        (Exact.decSum(col("err") * col("x"), S) / count(lit(1))).as("grad"))
      .withColumn("w_old", element_at(wArr, col("j") + 1))
      .select(col("j"), col("n_docs"), col("w_old"), col("grad"),
        (col("w_old") - lit(Lr) * col("grad")).as("w_new"))
  }

  val trainStepSql: String = {
    val w = W0.map(_.toString)
    val z = (1 until NF).foldLeft(s"(${w(0)}) * x0") { (acc, j) =>
      s"$acc + (${w(j)}) * x$j"
    }
    val branches = (0 until NF)
      .map(j => s"SELECT $j AS j, err, x$j AS x FROM e")
      .mkString("\n  UNION ALL\n  ")
    val wRows = W0.zipWithIndex
      .map { case (v, j) => s"($j, $v)" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, ${TextAnalysis.duckWords} AS ws FROM documents
       |), f AS (
       |  SELECT doc_id,
       |    CAST(1.0 AS DOUBLE) AS x0,
       |    least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0) AS x1,
       |    CAST(len(list_filter(ws, w -> w IN ${TextAnalysis.duckStopList})) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS x2,
       |    least(((CAST(n_chars AS DOUBLE) - (CAST(len(ws) AS DOUBLE) - 1.0)) / CAST(len(ws) AS DOUBLE)) / 8.0, 1.0) AS x3,
       |    CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS x4,
       |    ${TextAnalysis.duckQuality} AS q
       |  FROM d
       |), e AS MATERIALIZED (
       |  SELECT x0, x1, x2, x3, x4,
       |    ${Exact.duckRoundS(s"1.0 / (1.0 + exp(-($z)))", 4)}
       |      - CAST(CAST(q >= $Thresh AS INT) AS DOUBLE) AS err
       |  FROM f
       |), long AS (
       |  $branches
       |), g AS (
       |  SELECT j, COUNT(*) AS n_docs,
       |    ${Exact.duckSum("err * x", S)} / COUNT(*) AS grad
       |  FROM long GROUP BY j
       |), w AS (SELECT * FROM (VALUES $wRows) AS t(j, w_old))
       |SELECT CAST(g.j AS INT) AS j, g.n_docs, CAST(w.w_old AS DOUBLE) AS w_old,
       |  g.grad, CAST(w.w_old AS DOUBLE) - $Lr * g.grad AS w_new
       |FROM g JOIN w ON w.j = g.j""".stripMargin
  }

  // ---------------------------------------------------- #141 serving pass

  val ServeEpochs = 25

  /** The trained weights after [[ServeEpochs]] full-batch GD steps,
    * memoized per (session, dir) — the trained classifier ARTIFACT,
    * driver-side by design like the BPE merge table
    * ([[graft.text.Vocab]]): a serving classifier is KB-sized and ships
    * as a file; recomputing it per scoring call would charge the scorer
    * the trainer's cost. One step is NOT a classifier (measured: 40%
    * label agreement from the random init — worse than chance); 25
    * steps separate cleanly because the label is a thresholded LINEAR
    * function of these exact features, so the problem is separable by
    * construction. Each step is [[trainStep]]'s algebra verbatim: z in
    * literal order, σ grid-quantized at scale 4, decSum(9) mean
    * gradients, w − lr·g — all mirrored per-step by the oracle, which
    * unrolls the same [[ServeEpochs]] CTE rounds.
    */
  private[pipeline] val wCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[Double]]
  graft.core.Caches.registerHook(() => wCache.clear())

  def trainedW(spark: SparkSession, dir: String): Seq[Double] =
    wCache.getOrElseUpdate((spark, dir), descend(spark, dir, ServeEpochs))

  /** `steps` full-batch GD steps from [[W0]]. The features are scanned
    * ONCE into one flat `(x0..x4, y)` block per partition (the only SQL
    * query), persisted, and each step is one aggregation job over the
    * blocks: nothing per step is analysed, planned or code-generated,
    * and the blocks are freed before returning.
    *
    * Each step replays [[trainStep]]'s generated code op for op, so the
    * weights are bit-identical to the SQL form: z = Σ wⱼxⱼ in literal
    * order, σ via `java.lang.Math.exp` (what Spark's codegen calls)
    * floored onto the 1e-4 grid as a long, the per-term
    * `floor(err·xⱼ·1e9 + 0.5)` summed as longs (order-independent, so
    * the tree reduction cannot move it), grad = sum / 1e9 / n, then
    * w − lr·grad. A row holding a null counts in n but adds no term, as
    * SQL's null err does; y keeps SQL's comparison semantics because
    * it is computed in the scan.
    */
  private[pipeline] def descend(spark: SparkSession, dir: String,
      steps: Int): Seq[Double] = {
    val cols = (0 until NF).map(j => col(s"x$j")) :+
      (col("q") >= Thresh).cast("int").cast("double").as("y")
    // (rows in the partition, flat row-major block of its null-free rows)
    val blocks = features(spark, dir).select(cols: _*).rdd
      .mapPartitions { it =>
        var n = 0L
        val b = Array.newBuilder[Double]
        it.foreach { r =>
          n += 1
          if (!(0 to NF).exists(r.isNullAt)) (0 to NF).foreach(k => b += r.getDouble(k))
        }
        Iterator.single((n, b.result()))
      }
      .setName(s"QualityClassifier.descend $dir")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = blocks.map(_._1).fold(0L)(_ + _)
      (1 to steps).foldLeft(W0) { (w, _) =>
        val wa = w.toArray
        val sums = blocks.treeAggregate(new Array[Long](NF))(
          (acc, blk) => { addTerms(wa, blk._2, acc); acc },
          (a, c) => { (0 until NF).foreach(j => a(j) += c(j)); a })
        (0 until NF).map(j => w(j) - Lr * (sums(j).toDouble / GradScale / n))
      }
    } finally blocks.unpersist(blocking = true)
  }

  private val GradScale = math.pow(10, S)

  /** Adds one block's scaled gradient terms to `acc` (see [[descend]]). */
  private def addTerms(w: Array[Double], blk: Array[Double],
      acc: Array[Long]): Unit = {
    var i = 0
    while (i < blk.length) {
      var z = w(0) * blk(i)
      var j = 1
      while (j < NF) { z = z + w(j) * blk(i + j); j += 1 }
      val p = java.lang.Math.floor(1.0 / (1.0 + java.lang.Math.exp(-z)) * 1e4 + 0.5)
        .toLong / 1e4
      val err = p - blk(i + NF)
      j = 0
      while (j < NF) {
        acc(j) += java.lang.Math.floor(err * blk(i + j) * GradScale + 0.5).toLong
        j += 1
      }
      i += NF + 1
    }
  }

  /** #141: the model-based curation gate SERVING — score every document
    * with the TRAINED LR weights and emit the actionable per-doc
    * verdict (doc_id, p, keep): `filter(keep)` IS the model-curated
    * corpus, the artifact #119's training exists to produce (the
    * #118-to-#66 relationship, for the classifier).
    *
    * ONE map-only pass: features, the 5-term literal-order z chain, one
    * grid-quantized sigmoid — scan-speed at any corpus size, zero
    * shuffle; the model rides in as 5 literal constants. The oracle
    * re-derives the weights through [[ServeEpochs]] unrolled rounds of
    * the SAME CTE chain as the training-step oracle, so trainer and
    * server cannot drift — the hash match re-verifies the whole
    * trajectory end-to-end through the serving path.
    */
  def infer(spark: SparkSession, dir: String): DataFrame = {
    val w = trainedW(spark, dir)
    val z = zOf(w)
    features(spark, dir)
      .withColumn("p", Exact.roundS(lit(1.0) / (lit(1.0) + exp(-z)), 4))
      .select(col("doc_id"), col("p"), (col("p") >= 0.5).as("keep"))
  }

  /** The serve-path CTE chain (features + [[ServeEpochs]] training
    * rounds) and the final quantized-sigmoid expression, shared by the
    * #141 and #178 oracles so server and calibration report score with
    * the SAME re-derived trajectory.
    */
  // serve-path CTE bodies + quantized-sigmoid expression, exposed to the
  // package so the #332 end-to-end pipeline oracle can splice the gate's
  // re-derived trajectory into its composed CTE chain.
  private[pipeline] lazy val (serveCtes: String, duckP: String) = {
    def zOfSql(wref: String) = (1 until NF).foldLeft(s"$wref.w0 * f.x0") {
      (acc, j) => s"$acc + $wref.w$j * f.x$j"
    }
    // one GD round: score with wv{k-1}, aggregate gradients, update
    def round(k: Int): String = {
      val branches = (0 until NF)
        .map(j => s"SELECT $j AS j, err, x$j AS x FROM e$k")
        .mkString("\n  UNION ALL\n  ")
      val upd = (0 until NF)
        .map(j => s"(SELECT w$j FROM wv${k - 1}) - $Lr * (SELECT grad FROM g$k WHERE j = $j) AS w$j")
        .mkString(",\n    ")
      s"""e$k AS (
         |  SELECT f.x0, f.x1, f.x2, f.x3, f.x4,
         |    ${Exact.duckRoundS(s"1.0 / (1.0 + exp(-(${zOfSql(s"wv${k - 1}")})))", 4)}
         |      - CAST(CAST(f.q >= $Thresh AS INT) AS DOUBLE) AS err
         |  FROM f CROSS JOIN wv${k - 1}
         |), long$k AS (
         |  $branches
         |), g$k AS MATERIALIZED (
         |  SELECT j, ${Exact.duckSum("err * x", S)} / COUNT(*) AS grad
         |  FROM long$k GROUP BY j
         |), wv$k AS MATERIALIZED (
         |  SELECT $upd
         |)""".stripMargin
    }
    val w0Cols = W0.zipWithIndex
      .map { case (v, j) => s"CAST($v AS DOUBLE) AS w$j" }.mkString(", ")
    val ctes =
      s"""WITH d AS (
         |  SELECT doc_id, n_chars, ${TextAnalysis.duckWords} AS ws FROM documents
         |), f AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(1.0 AS DOUBLE) AS x0,
         |    least(CAST(len(ws) AS DOUBLE) / 50.0, 1.0) AS x1,
         |    CAST(len(list_filter(ws, w -> w IN ${TextAnalysis.duckStopList})) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS x2,
         |    least(((CAST(n_chars AS DOUBLE) - (CAST(len(ws) AS DOUBLE) - 1.0)) / CAST(len(ws) AS DOUBLE)) / 8.0, 1.0) AS x3,
         |    CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS x4,
         |    ${TextAnalysis.duckQuality} AS q
         |  FROM d
         |), wv0 AS (SELECT $w0Cols),
         |${(1 to ServeEpochs).map(round).mkString(",\n")}""".stripMargin
    val p = Exact.duckRoundS(s"1.0 / (1.0 + exp(-(${zOfSql(s"wv$ServeEpochs")})))", 4)
    (ctes, p)
  }

  val inferSql: String =
    s"""$serveCtes
       |SELECT f.doc_id, $duckP AS p, $duckP >= 0.5 AS keep
       |FROM f CROSS JOIN wv$ServeEpochs""".stripMargin

  // ------------------------------------------- #178 calibration report

  val CalBins = 10

  /** #178: the reliability diagram of the serving gate — the model-eval
    * artifact an ML-ops pipeline publishes beside any deployed
    * classifier (Guo et al. 2017's calibration framing): bucket the
    * served probability into [[CalBins]] equal-width bins and report,
    * per bin, the count, the mean predicted probability, the observed
    * positive rate against the distilled heuristic label, and their gap
    * (the per-bin term of ECE). A well-calibrated gate has gap ≈ 0 in
    * the populated bins; drift here is the retrain trigger.
    *
    * Exactness: p is already on the 1e-4 grid, so mean_p is a
    * scaled-long decAvg (order-independent); the positive rate is an
    * int/int division; the gap is one literal-order subtraction. Scale:
    * the scoring pass is #141's map-only scan; the report is one
    * aggregate onto ≤ [[CalBins]] keys with map-side combine — output
    * bounded by the bin count, never the corpus.
    */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val w = trainedW(spark, dir)
    val z = zOf(w)
    features(spark, dir)
      .withColumn("p", Exact.roundS(lit(1.0) / (lit(1.0) + exp(-z)), 4))
      .withColumn("y", (col("q") >= Thresh).cast("long"))
      .groupBy(least(floor(col("p") * CalBins).cast("long"), lit(CalBins - 1L))
        .as("bin"))
      .agg(
        count(lit(1)).as("n"),
        Exact.decAvg(col("p"), 4).as("mean_p"),
        (sum(col("y")).cast("double") / count(lit(1)).cast("double")).as("frac_pos"))
      .withColumn("gap", col("mean_p") - col("frac_pos"))
  }

  val calibrationSql: String =
    s"""$serveCtes,
       |scored AS (
       |  SELECT $duckP AS p, CAST(f.q >= $Thresh AS BIGINT) AS y
       |  FROM f CROSS JOIN wv$ServeEpochs
       |)
       |SELECT LEAST(CAST(floor(p * $CalBins) AS BIGINT), ${CalBins - 1}) AS bin,
       |  COUNT(*) AS n,
       |  ${Exact.duckAvg("p", 4)} AS mean_p,
       |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos,
       |  ${Exact.duckAvg("p", 4)}
       |    - CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS gap
       |FROM scored GROUP BY 1""".stripMargin
}
