package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.core.{Caches, TpchGraph}
import graft.dedup.Dedup
import graft.kge.{RankingEval, TrainEval}
import graft.pipeline.{CorpusClean, Decontaminate, Pipeline, QualityClassifier}
import graft.rdf.Dict
import graft.sources.NTriples
import graft.tensor.BlockPartition

/** What one timed body measured. `report` holds the workload's own
  * end-to-end figures (printed, not gated); `layers` the per-layer
  * figures that are not span aggregates.
  */
final case class Outcome(rep: Rep, tracer: Tracer,
    report: Map[String, (Double, String)], layers: Map[String, Double])

/** A workload: set-up, one timed body, and the output checks. `setupS`
  * is the time from JVM start until the session was ready.
  */
trait Workload {
  def run(h: Harness, dir: Path, setupS: Double): Outcome
}

object Workload {
  val all: Map[String, Workload] = Map(
    "kg_journey" -> KgJourney, "curation" -> Curation,
    "eval_serving" -> EvalServing)

  /** The timed body. `body` makes its calls through the [[Step]] and
    * returns its output digest. Spark work is read from the session's
    * [[Meter]] before and after, and so is the peak storage held, read
    * at every job end; per-layer figures (traced runs only) aggregate
    * the spans of each name.
    */
  def timed(h: Harness)(body: Step => String): (Rep, Tracer) = {
    val sc = h.spark.sparkContext
    val step = new Step(h, new Tracer(sc, h.args.traced))
    val before = h.meter.snapshot()
    val ids0 = h.persistedIds()
    h.meter.watchStorage()
    val t0 = System.nanoTime()
    val digest = body(step)
    val wall = (System.nanoTime() - t0) / 1e9
    val peak = h.meter.peakStorageMb()
    val after = h.meter.snapshot()
    val t = step.tracer
    val layers =
      if (!h.args.traced) Map.empty[String, Double]
      else t.spans.map(_.name).distinct.flatMap { l =>
        Layers.measure(t, h.meter, l).map { case (k, v) => s"$l.$k" -> v }
      }.toMap
    (Rep(wall, (after.cpuNs - before.cpuNs) / 1e9, peak, layers, digest,
      t.spans.filter(_.parent == -1).map(_.seconds).sum,
      (h.persistedIds() -- ids0).size), t)
  }
}

/** Times a call into graft and counts it as attempted. */
final class Step(h: Harness, val tracer: Tracer) {
  def apply[T](name: String, detail: String = "")(body: => T): T =
    h.call(tracer, name, detail)(body)
}

/** The paper's journey on a fresh session: N-Triples read → dictionary
  * encoding → COO block partition → TransE train → ranking eval.
  */
object KgJourney extends Workload {
  /** The N-Triples dump the input generator writes beside the tables. */
  val Dump = "graph.nt"
  val Epochs = 1

  def run(h: Harness, dir: Path, setupS: Double): Outcome = {
    h.setupS = setupS
    val spark = h.spark
    val d = dir.toString
    val dump = dir.resolve(Dump).toString
    var nnz = 0L
    var enc = 0L
    var rows = Seq.empty[Row]
    val (rep, t) = Workload.timed(h) { step =>
      val nt = step("sources.ntriples")(h.digest(NTriples.read(spark, dump)))
      val dict = step("rdf.dict")(infra(h, d))
      enc = dict(3)._1
      val bp = step("tensor.partition") {
        val r = BlockPartition.blockPartition(spark, d)
          .agg(count(lit(1)), sum("nnz"),
            sum(pmod(xxhash64(col("bid"), col("nnz")), lit(Harness.HashMod))))
          .head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      nnz = bp._2
      val te = step("kge.train")(TrainEval.trainEval(spark, d, Epochs, TrainEval.EvalLr))
      rows = step("kge.eval")(te.collect().toSeq)
      h.md5(Seq(nt, dict, bp, h.rowsDigest(rows)).mkString("|"))
    }
    checks(h, d, dump, nnz, enc, rows)
    val mrr = rows.find(_.getAs[String]("model") == "trained")
      .map(_.getAs[Double]("mrr")).getOrElse(0.0)
    Outcome(rep, t, Map("mrr" -> (mrr, "1")), Map("kge.train.mrr" -> mrr))
  }

  /** The infra tier — triple view, both dictionaries, encoded triples —
    * materialised, with the digest of each.
    */
  def infra(h: Harness, d: String): Seq[(Long, Long)] = {
    val s = h.spark
    Seq(TpchGraph.triples(s, d), Dict.entities(s, d), Dict.relations(s, d),
      Dict.encodedTriples(s, d)).map(h.digest)
  }

  private def checks(h: Harness, d: String, dump: String, nnz: Long,
      enc: Long, rows: Seq[Row]): Unit = {
    val spark = h.spark
    h.check("N-Triples read-back equals the triples view as a set") {
      h.digest(NTriples.read(spark, dump).distinct()) ==
        h.digest(TpchGraph.triples(spark, d))
    }
    h.check("entity ids are exactly 0..N-1") {
      val r = Dict.entities(spark, d)
        .agg(count(lit(1)), countDistinct("id"), min("id"), max("id")).head()
      r.getLong(0) > 0 && r.getLong(1) == r.getLong(0) &&
        r.getLong(2) == 0L && r.getLong(3) == r.getLong(0) - 1
    }
    h.check("block nnz sums to the encoded triple count")(nnz == enc && enc > 0)
    h.check("trainEval rows: shared n_test > 0, ordered hits, 0 < mrr <= 1") {
      rows.map(_.getAs[String]("model")).sorted == Seq("init", "trained") &&
        rows.map(_.getAs[Long]("n_test")).distinct.size == 1 &&
        rows.forall { r =>
          val h1 = r.getAs[Double]("hits1"); val h3 = r.getAs[Double]("hits3")
          val h10 = r.getAs[Double]("hits10"); val m = r.getAs[Double]("mrr")
          r.getAs[Long]("n_test") > 0 && 0 <= h1 && h1 <= h3 && h3 <= h10 &&
            h10 <= 1 && 0 < m && m <= 1
        }
    }
  }
}

/** The LLM-data funnel: clean → canonical dedup → quality gate →
  * decontaminate → the composed pipeline, in a fresh session.
  */
object Curation extends Workload {
  def run(h: Harness, dir: Path, setupS: Double): Outcome = {
    h.setupS = setupS
    val spark = h.spark
    val d = dir.toString
    var funnel = Seq.empty[Row]
    var clean = Seq.empty[Row]
    val (rep, t) = Workload.timed(h) { step =>
      clean = step("pipeline.clean")(CorpusClean.corpusClean(spark, d).collect().toSeq)
      val canon = step("dedup.canonical")(h.digest(Dedup.canonical(spark, d)))
      val gate = step("pipeline.gate")(h.digest(QualityClassifier.infer(spark, d)))
      val dec = step("pipeline.decontaminate") {
        h.digest(Decontaminate.decontaminate(spark, d))
      }
      funnel = step("pipeline.e2e")(Pipeline.e2e(spark, d).collect().toSeq)
      h.md5(Seq(h.rowsDigest(clean), canon, gate, dec, h.rowsDigest(funnel))
        .mkString("|"))
    }
    val docs = spark.read.parquet(s"$d/documents.parquet").count()
    val stages = funnel.sortBy(_.getAs[Int]("stage_ord"))
    h.check("funnel n_docs and n_tokens never increase") {
      stages.size == Pipeline.Stages.size &&
        stages.sliding(2).forall { case Seq(a, b) =>
          b.getAs[Long]("n_docs") <= a.getAs[Long]("n_docs") &&
            b.getAs[Long]("n_tokens") <= a.getAs[Long]("n_tokens")
        }
    }
    h.check("raw n_docs equals the document row count") {
      stages.head.getAs[Long]("n_docs") == docs &&
        clean.map(_.getAs[Long]("n_raw")).sum == docs
    }
    Outcome(rep, t, Map.empty, Map.empty)
  }
}

/** Serving ranking-eval and ANN requests from the derived tier. Set-up
  * builds the infra tier (triple view, dictionaries, encoded triples).
  * The timed body is one model snapshot: it evicts the derived tier
  * (`Caches.clearDerived`, the "write"), serves every request type once
  * (the refresh pass, cold), then every type [[WarmRounds]] more times in
  * seeded order (warm). The refresh order is fixed: request types share
  * derived frames, so which one comes first decides who pays for them.
  * Every request's result must be the same cold and warm.
  *
  * One snapshot per JVM: the first snapshot of a fresh JVM takes about
  * twice as long as later ones (JIT, generated-code cache), and a run
  * has room for one JVM with one snapshot. Results must also repeat
  * across runs of one seed, which is the across-snapshot check.
  */
object EvalServing extends Workload {
  final case class Request(name: String, layer: String,
      f: (SparkSession, String) => DataFrame)

  val Requests: Seq[Request] = Seq(
    Request("mrr", "kge.eval", RankingEval.mrr),
    Request("hitsAtK", "kge.eval", RankingEval.hitsAtK),
    Request("evalByCategory", "kge.eval", RankingEval.evalByCategory),
    Request("evalByDegree", "kge.eval", RankingEval.evalByDegree),
    Request("mrrCi", "kge.eval", RankingEval.mrrCi),
    Request("bruteTopK", "ann", Ann.bruteTopK),
    Request("ivfTopK", "ann", Ann.ivfTopK),
    Request("recallReport", "ann", Ann.recallReport))

  /** Warm requests per type: the same mix on every seed. */
  val WarmRounds = 2

  def run(h: Harness, dir: Path, setupS: Double): Outcome = {
    val d = dir.toString
    // The infra tier is set-up, outside the timed body; its span reports
    // as the `rdf.dict` layer.
    val i0 = System.nanoTime()
    val setUp = new Tracer(h.spark.sparkContext, h.args.traced)
    setUp("rdf.dict")(KgJourney.infra(h, d))
    h.setupS = setupS + (System.nanoTime() - i0) / 1e9
    h.meter.snapshot()
    val infra = Layers.measure(setUp, h.meter, "rdf.dict")
      .map { case (k, v) => s"rdf.dict.$k" -> v }

    val seen = mutable.Map.empty[String, String]
    val warm = mutable.ArrayBuffer.empty[Double]
    var clearS, refreshS, heldMb, recall = 0.0
    var persisted, reused = 0
    def serve(r: Request): String = {
      val rows = r.f(h.spark, d).collect().toSeq
      if (r.name == "recallReport")
        recall = rows.find(_.getAs[String]("variant") == "ivfpq_refined")
          .map(_.getAs[Double]("recall")).getOrElse(0.0)
      val dg = h.rowsDigest(rows)
      h.check(s"${r.name} gives the same result cold and warm") {
        seen.getOrElseUpdate(r.name, dg) == dg
      }
      dg
    }

    val rng = new SplittableRandom(h.args.seed)
    val (rep, t) = Workload.timed(h) { step =>
      val c0 = System.nanoTime()
      step("core.cache.clear")(Caches.clearDerived())
      clearS = (System.nanoTime() - c0) / 1e9
      val ids0 = h.persistedIds()
      val cold = Requests.map(r => step(s"${r.layer}.cold", r.name)(serve(r)))
      refreshS = (System.nanoTime() - c0) / 1e9
      persisted = (h.persistedIds() -- ids0).size
      heldMb = h.storageMb()
      val warmOrder = Seq.fill(WarmRounds)(Requests).flatten
        .map(r => (rng.nextLong(), r)).sortBy(_._1).map(_._2)
      warmOrder.foreach { r =>
        val before = h.persistedIds()
        val w0 = System.nanoTime()
        step(s"${r.layer}.warm", r.name)(serve(r))
        warm += (System.nanoTime() - w0) / 1e9
        if ((h.persistedIds() -- before).isEmpty) reused += 1
      }
      h.md5(cold.mkString("|"))
    }

    val p50 = Stats.quantile(warm.toSeq, 0.5)
    val p90 = Stats.quantile(warm.toSeq, 0.9)
    Outcome(rep, t,
      Map("ann_recall" -> (recall, "1"), "refresh_s" -> (refreshS, "s"),
        "warm_p50_s" -> (p50, "s"), "warm_p90_s" -> (p90, "s"),
        "warm_requests" -> (warm.size.toDouble, "count")),
      infra ++ Map("core.cache.clear_s" -> clearS,
        "core.cache.persisted_rdds" -> persisted.toDouble,
        "core.cache.storage_mb" -> heldMb,
        "core.cache.reuse_ratio" -> reused.toDouble / warm.size,
        "ann.recall" -> recall, "serve.refresh_s" -> refreshS,
        "serve.warm_p50_s" -> p50, "serve.warm_p90_s" -> p90))
  }
}
