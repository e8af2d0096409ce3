package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The LR step's values are pinned by the oracle; here we assert the
  * step is a REAL gradient step: it descends the logistic loss, and the
  * bias gradient is exactly the mean error. The training loop behind the
  * served weights is pinned to that step and to recorded weights, and
  * its planning cost is bounded.
  */
class QualityClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("one GD step decreases the logistic loss") {
    val step = QualityClassifier.trainStep(spark, TestSpark.sf)
      .orderBy("j").collect()
    assert(step.length == 5)
    val wNew = step.map(_.getDouble(4)).toSeq
    val before = QualityClassifier.logLoss(spark, TestSpark.sf,
      QualityClassifier.W0)
    val after = QualityClassifier.logLoss(spark, TestSpark.sf, wNew)
    assert(after < before, s"loss did not descend: $before -> $after")
  }

  test("labels are non-degenerate and the bias gradient is the mean error") {
    val feats = QualityClassifier.features(spark, TestSpark.sf).cache()
    val n = feats.count()
    val pos = feats.filter(col("q") >= QualityClassifier.Thresh).count()
    assert(pos > n / 10 && pos < n * 9 / 10,
      s"degenerate labels: $pos of $n positive")
    // j=0 has x0 = 1, so grad_0 = mean(err) ∈ (−1, 1), and every
    // feature gradient is bounded by it in magnitude ≤ max|x| = 1
    val g = QualityClassifier.trainStep(spark, TestSpark.sf)
      .orderBy("j").collect()
    assert(g.forall(r => math.abs(r.getDouble(3)) < 1.0))
    assert(g.forall(_.getLong(1) == n))
    feats.unpersist()
  }

  test("serving pass scores every doc with the stepped weights; the " +
    "trained gate beats a coin flip against the heuristic labels") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val inf = QualityClassifier.infer(spark, TestSpark.sf).cache()
    val nDocs = graft.core.Tables.documents(spark, TestSpark.sf).count()
    assert(inf.count() == nDocs)
    assert(inf.filter(col("p") < 0 || col("p") > 1).isEmpty)
    assert(inf.filter(col("keep") =!= (col("p") >= 0.5)).isEmpty)
    // the stepped model must agree with the heuristic labels it was
    // distilled from far better than chance (one step from a random
    // init already separates on these features)
    val labels = QualityClassifier.trainStep(spark, TestSpark.sf) // warm cache
    val q = graft.core.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("n_chars"),
        graft.text.TextAnalysis.words.as("ws"))
      .select(col("doc_id"),
        (graft.text.TextAnalysis.quality >= QualityClassifier.Thresh).as("y"))
    val agree = inf.join(q, "doc_id")
      .agg(avg((col("keep") === col("y")).cast("double"))).head.getDouble(0)
    assert(agree > 0.6, s"agreement $agree")
    // the verdict is non-degenerate: both classes appear
    assert(inf.filter(col("keep")).count() > 0)
    assert(inf.filter(!col("keep")).count() > 0)
    inf.unpersist()
  }

  test("calibration report: bins tile the served scores and every metric recomputes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val inf = QualityClassifier.infer(spark, TestSpark.sf)
    val y = graft.core.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("n_chars"),
        graft.text.TextAnalysis.words.as("ws"))
      .select(col("doc_id"),
        (graft.text.TextAnalysis.quality >= QualityClassifier.Thresh).as("y"))
    val scored = inf.join(y, "doc_id")
      .select(col("p"), col("y")).as[(Double, Boolean)].collect()
    val got = QualityClassifier.calibration(spark, TestSpark.sf)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // bins tile the corpus
    assert(got.values.map(_._1).sum == scored.length)
    val byBin = scored.groupBy { case (p, _) =>
      math.min(math.floor(p * QualityClassifier.CalBins).toLong,
        QualityClassifier.CalBins - 1L) }
    assert(got.keySet == byBin.keySet)
    byBin.foreach { case (b, rows) =>
      val (n, meanP, fracPos, gap) = got(b)
      assert(n == rows.length)
      val sumS = rows.iterator.map { case (p, _) => math.floor(p * 1e4 + 0.5).toLong }.sum
      assert(meanP == sumS.toDouble / 1e4 / rows.length)
      assert(fracPos == rows.count(_._2).toDouble / rows.length)
      assert(gap == meanP - fracPos)
    }
    // The REPORT'S FINDING is the point, not a clean bill: the 25-epoch
    // gate RANKS correctly (observed positive rate rises from the lowest
    // to the highest populated bin) while being visibly overconfident in
    // its low bins (gap ≈ +0.3..0.45 at sf0.001) — precisely the
    // under-trained-LR signature a reliability diagram exists to
    // surface, and the retrain trigger it feeds.
    val populated = got.filter(_._2._1 >= 20).toSeq.sortBy(_._1)
    assert(populated.size >= 3)
    assert(populated.head._2._3 <= 0.1, "lowest populated bin ~all negatives")
    assert(populated.last._2._3 >= 0.7, "highest populated bin mostly positives")
    assert(got.values.exists(r => r._1 >= 20 && math.abs(r._4) > 0.2),
      "the under-trained gate's miscalibration must be visible in the report")
  }

  private def bits(w: Seq[Double]) = w.map(java.lang.Double.doubleToRawLongBits)

  test("trained weights at sf0.001 are pinned bit for bit") {
    // recorded from the SQL-per-step loop this one replaced
    assert(bits(QualityClassifier.trainedW(spark, TestSpark.sf)) == Seq(
      -4624399516244428377L, 4609477013717880971L, -4622645609562716889L,
      4585852843517469781L, -4616596921126474711L))
  }

  test("one step of the training loop equals trainStep's w_new") {
    val viaSql = QualityClassifier.trainStep(spark, TestSpark.sf)
      .orderBy("j").collect().map(_.getDouble(4)).toSeq
    assert(bits(QualityClassifier.descend(spark, TestSpark.sf, 1)) == bits(viaSql))
  }

  test("a cold trainedW runs at most 2 SQL executions and leaves nothing persisted") {
    graft.core.Tables.documents(spark, TestSpark.sf) // infra tier, built once
    // forget only the trained weights, so the counts are trainedW's alone
    QualityClassifier.wCache.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (w, counts) = graft.core.QueryMetrics.during(spark)(
      QualityClassifier.trainedW(spark, TestSpark.sf))
    assert(w.size == 5)
    assert(counts.sqlExecutions <= 2, s"cold trainedW: $counts")
    val left = spark.sparkContext.getPersistentRDDs.filter(e => !before(e._1))
    assert(left.isEmpty, s"left persisted: ${left.values.map(_.name)}")
  }
}
