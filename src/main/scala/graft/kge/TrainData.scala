package graft.kge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PortableHash
import graft.rdf.Dict

/** Shared training input for the KGE trainers: a deterministic minibatch
  * of encoded triples with one pHash-derived corrupted object each.
  *
  * The reference trains on sampled minibatches, not the full graph per
  * step (reference: src/main/scala/net/sansa_stack/ml/kge/model/TransE.scala:96-147
  * minibatch SGD; python/sansa/ml/kbc/keras/sample.py RandomModeSampler).
  * graft keeps that shape but makes the batch DETERMINISTIC — the
  * 1-in-[[Mod]] pHash-selected slice of the encoded triples — so every
  * trainer's loss sequence is reproducible run-to-run and engine-free.
  * Loss descent is asserted on the same fixed batch (gradient descent on
  * a fixed objective); the full-data path is this code with Mod = 1.
  *
  * All five trainer entries consume the SAME batch, so it is built and
  * persisted once per (session, dir) — at 100 TB this is the "materialize
  * the epoch's training shard once, train many models against it" shape.
  */
object TrainData {

  /** 1-in-Mod deterministic minibatch. */
  val Mod = 4

  private val cache = new graft.core.DfCache[(SparkSession, String)]

  // Entity-dictionary size per (session, dir): the corruption modulus of
  // the fixed batch here and of the trainers' per-epoch fresh negatives,
  // counted once instead of one count job per caller.
  private val entCounts =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]
  graft.core.Caches.registerHook(() => entCounts.clear())

  /** Number of entities in `dir`'s dictionary. */
  def entityCount(spark: SparkSession, dir: String): Long =
    entCounts.getOrElseUpdate((spark, dir), Dict.entities(spark, dir).count())

  /** (sid, pid, oid, nid): minibatch triples + corrupted object nid
    * (the negSampleCorrupt rule: nid = pHash(neg|s|p|o) % nEnt, bumped
    * by one when it collides with the true object).
    */
  def minibatch(spark: SparkSession, dir: String): DataFrame =
    cache.getOrElseUpdate((spark, dir)) {
      val n = entityCount(spark, dir)
      val raw = PortableHash.pHash(
        concat_ws("|", lit("neg"), col("sid"), col("pid"), col("oid"))) % n
      Dict.encodedTriples(spark, dir)
        .filter(PortableHash.pHash(
          concat_ws("|", lit("mb"), col("sid"), col("pid"), col("oid")))
          % Mod === 0)
        .withColumn("nid",
          when(raw === col("oid"), (raw + 1) % n).otherwise(raw))
    }
}
