package graft.kge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #330: TRAINED-EMBEDDING CHECKPOINT persistence — the last
  * reference-surface gap (VERDICT r7 item 1): every real training loop
  * checkpoints and resumes (reference: python/sansa/ml/kbc/kge/hole.py:253-258
  * `save_epoch`/`load_epoch` pickling the param dict per epoch;
  * python/sansa/ml/kbc/keras/base.py:170-174 `save_weights`/
  * `load_weights`). graft's counterpart materializes the trainer's
  * FULL state — entity and relation frames of (id, vec, <slots>), i.e.
  * parameters PLUS optimizer slots — to an id-bucketed parquet
  * artifact and reloads it, so training continues across sessions
  * bit-identically (resuming Adam/AdamW without the moments would
  * restart the bias-correction schedule and diverge from the
  * uninterrupted run; the reference's pickle likewise carries the
  * whole param state).
  *
  * Scale shape (the #292 dictionary-artifact discipline): the frames
  * are written `repartition(id)` so a 1e9-entity table lands bucketed
  * on its join key — reloads co-partition with the id-keyed triple
  * joins every epoch starts with, and serving-time lookups prune to
  * buckets. Doubles round-trip parquet bit-exactly, which is what lets
  * the resume spec pin save→load→train-one-more ≡ uninterrupted.
  */
object Checkpoints {

  /** Write the (entity, relation) state pair under `path`. */
  def save(ent: DataFrame, rel: DataFrame, path: String): Unit = {
    ent.repartition(col("id")).write.mode("overwrite")
      .parquet(s"$path/entities.parquet")
    rel.repartition(col("id")).write.mode("overwrite")
      .parquet(s"$path/relations.parquet")
  }

  /** Load a checkpoint written by [[save]]: (entity, relation) frames
    * of (id, vec, <whatever optimizer slots the saved state carried>).
    */
  def load(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/entities.parquet"),
      spark.read.parquet(s"$path/relations.parquet"))

  /** Train `moreEpochs` further epochs of `model` under `optimizer` from a
    * checkpoint taken after absolute epoch `atEpoch` — the `load_epoch`-
    * then-continue surface, the same for every model. Epoch numbering
    * continues from `atEpoch + 1`, so bias corrections and per-epoch
    * corruption schedules replay exactly what the uninterrupted run
    * would compute.
    */
  def resume(spark: SparkSession, dir: String, path: String,
      model: HingeTrainer.HingeModel, optimizer: String, atEpoch: Int,
      moreEpochs: Int, freshNegs: Boolean = false)
      : (DataFrame, DataFrame, Seq[(Int, Double)]) = {
    val (ent, rel) = load(spark, path)
    HingeTrainer.epochLoop(spark, dir, model, optimizer, ent, rel,
      atEpoch + 1, atEpoch + moreEpochs, model.lr, freshNegs)
  }

  /** #330 registered query: the save→load roundtrip over the 2-epoch
    * AdamW trainer state, emitted as the (id, i, v) entity long form.
    * The oracle is the #293 two-step unrolled AdamW SQL — the loaded
    * artifact must be VALUE-IDENTICAL to the session-trained frames, so
    * any loss or drift through the parquet write/read (or a slot/param
    * column mix-up) fails the hash. Save+load stay inside the call:
    * the roundtrip IS the operator (the #292 discipline).
    */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (ent, rel, _) =
      TransETrainer.trainState(spark, dir, "adamw", 2, TransETrainer.Lr)
    val out = graft.core.TempDirs.create("graft_kge_ckpt_")
    save(ent, rel, out)
    val (entL, _) = load(spark, out)
    entL.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
  }

  /** #330 oracle: identical to #293's — the roundtrip must not change a
    * single bit of the trained frame.
    */
  val roundtripSql: String = TransETrainer.trainStep2AdamWSql
}
