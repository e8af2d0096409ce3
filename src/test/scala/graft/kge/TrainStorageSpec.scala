package graft.kge

import scala.collection.mutable

import org.apache.spark.rdd.GraftRddIntrospect
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** What the shared hinge-loss epoch loop leaves in the block manager.
  * Each epoch aggregates its joined batch once without persisting it,
  * caches only the small gradient aggregate, and frees that and the
  * generation it supersedes, so a finished TransE run holds exactly its
  * final entity and relation checkpoints, whatever its epoch budget, and
  * a loss-only run of any other model holds nothing.
  */
class TrainStorageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  // an lr no other caller trains with, so every run here really trains
  // instead of hitting TransETrainer's per-config cache
  private val Lr = 0.0625

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not a checkpointed frame: ${p.nodeName}")
  }

  /** A cached frame's RDD is named after its physical plan. The loop may
    * cache one frame: the per-(kind, id) gradient aggregate, whose top
    * operator is the aggregate itself (the joined batch's is a join or a
    * projection of one).
    */
  private def isGradients(rddName: String): Boolean =
    rddName.linesIterator.map(_.trim.stripPrefix("+- "))
      .find(!_.startsWith("AdaptiveSparkPlan"))
      .exists(_.contains("Aggregate(keys=[kind#"))

  /** Runs `train` under a job-end listener. Returns the persisted RDDs
    * seen at any job end that are new and neither local checkpoints nor
    * the gradient aggregate, the RDDs the run left persisted, and the
    * run's result.
    */
  private def observe[T](label: String)(train: => T): (Seq[String], Set[Int], T) = {
    // the shared inputs the loop reads are built before it starts
    TrainData.minibatch(spark, TestSpark.sf).count()
    TrainData.entityCount(spark, TestSpark.sf)
    val before = sc.getPersistentRDDs.keySet.toSet
    val strays = mutable.LinkedHashSet.empty[String]
    val marker = s"train-storage-spec-$label"
    @volatile var markerJob = -1
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == marker))
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        sc.getPersistentRDDs.foreach { case (id, r) =>
          if (!before(id) && !GraftRddIntrospect.isLocallyCheckpointed(r) &&
              !isGradients(r.name))
            strays += s"rdd $id: ${r.name}"
        }
        if (e.jobId == markerJob) drained = true
      }
    }
    sc.addSparkListener(listener)
    val result = try train finally {
      // events arrive in order: once the marker job's end is delivered,
      // so is every job end of the run
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      sc.removeSparkListener(listener)
    }
    assert(drained, "the listener never saw the marker job end")
    (strays.toSeq, sc.getPersistentRDDs.keySet.toSet -- before, result)
  }

  /** A TransE run's strays, what it left persisted, and its final
    * (entity, relation) checkpoint ids.
    */
  private def run(epochs: Int): (Seq[String], Set[Int], Set[Int]) = {
    val (strays, left, (ent, rel, losses)) = observe(s"transe-$epochs") {
      TransETrainer.trainState(spark, TestSpark.sf, "sgd", epochs, Lr,
        freshNegs = true)
    }
    assert(losses.size == epochs + 1)
    (strays, left, Set(rddId(ent), rddId(rel)))
  }

  test("a TransE run keeps only its final state, for 1 and for 3 epochs") {
    val (strays1, left1, final1) = run(1)
    val (strays3, left3, final3) = run(3)
    assert(left1 == final1, s"1 epoch left $left1 persisted, final state $final1")
    assert(left3 == final3, s"3 epochs left $left3 persisted, final state $final3")
    assert(left1.size == left3.size)
    assert(strays1.isEmpty && strays3.isEmpty,
      "a frame other than the gradient aggregate (the joined batch?) was " +
        s"persisted during training: ${(strays1 ++ strays3).mkString("; ")}")
  }

  for ((model, train) <- Seq[(String, () => DataFrame)](
      "DistMult" -> (() => DistMultTrainer.train(spark, TestSpark.sf)),
      "HolE" -> (() => HolETrainer.train(spark, TestSpark.sf)),
      "ComplEx" -> (() => ComplExTrainer.train(spark, TestSpark.sf)),
      "RESCAL" -> (() => RescalTrainer.train(spark, TestSpark.sf))))
    test(s"a $model loss run persists only gradients and leaves nothing") {
      val (strays, left, losses) = observe(model)(train().collect())
      assert(losses.length == HingeTrainer.Epochs + 1)
      assert(strays.isEmpty,
        "a frame other than the gradient aggregate (the joined batch?) was " +
          s"persisted during training: ${strays.mkString("; ")}")
      assert(left.isEmpty, s"the run left $left persisted")
    }
}
