package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Per-key persisted-DataFrame cache with central eviction.
  *
  * Dict / TpchGraph / Dedup memoize session-scoped persisted frames
  * (dictionaries, triple views, shingle arrays). Long-lived sessions
  * touching many dirs would otherwise accumulate MEMORY_AND_DISK blocks
  * and retain references to stopped sessions (ADVICE r2) — so every
  * cache registers here and harness mains call [[Caches.clearAll]] on
  * teardown.
  */
final class DfCache[K](val tier: String = "derived") {
  // Lazy holder: putIfAbsent races on the (cheap, unevaluated) holder,
  // then everyone forces the ONE winner — concurrent callers (Verify
  // runs queries on a pool) share a single build+persist instead of
  // each materializing a losing duplicate (ADVICE r3).
  private final class Holder(build: () => DataFrame) {
    @volatile var built = false
    lazy val df: DataFrame = {
      val d = build().persist(StorageLevel.MEMORY_AND_DISK)
      built = true
      d
    }
  }
  private val m = scala.collection.concurrent.TrieMap.empty[K, Holder]
  Caches.register(this)

  def getOrElseUpdate(k: K)(build: => DataFrame): DataFrame = {
    val holder = new Holder(() => build)
    m.putIfAbsent(k, holder).getOrElse(holder).df
  }

  def clear(): Unit = {
    m.values.foreach { h =>
      try { if (h.built) h.df.unpersist(blocking = false) }
      catch { case _: Throwable => () } // session may already be stopped
    }
    m.clear()
  }
}

object Caches {
  private val all =
    new java.util.concurrent.ConcurrentLinkedQueue[DfCache[_]]()

  private[core] def register(c: DfCache[_]): Unit = all.add(c)

  // Derived-tier module caches that are NOT DfCaches (the BPE merge
  // table, trained LR weights, trainer state) register a clear hook so
  // central eviction reaches them too — without this, Bench's cold path
  // and the SqlSurface eager audit saw order-dependent warmth (an op
  // looked lazy only because an alphabetically-earlier sibling had
  // trained the shared state).
  private val hooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  def registerHook(h: () => Unit): Unit = hooks.add(h)

  /** Unpersist and forget every cached frame (harness teardown hook). */
  def clearAll(): Unit = {
    all.forEach(_.clear())
    hooks.forEach(_.apply())
    Tables.clearFrames()
  }

  /** Evict only the `derived` tier — per-operator computed state
    * (ranked frames, graph iterations, embeddings, shingles) — keeping
    * the `infra` tier (triple view, dictionaries: the source encodings
    * that at 100 TB are materialized-once parquet, not per-query work).
    * This is Bench's cold-path boundary: a cold timing charges an
    * operator its own compute, not the shared corpus encoding.
    */
  def clearDerived(): Unit = {
    all.forEach(c => if (c.tier != "infra") c.clear())
    hooks.forEach(_.apply())
    // r10: localCheckpoint blocks are per-invocation artifacts no cache
    // tracks — a full-board Bench session accumulated hundreds of them
    // (each checkpointing query leaks a set per warmup/cold/warm leg,
    // freed only by clearAll at session end), and the growing heap
    // pressure inflated every alphabetically-late query (the r10
    // marathon's 68 retimes cluster in sample_/sketch_/streaming_/
    // text_). Freeing them here never invalidates a live frame: the
    // derived caches were just cleared, infra-tier builds never
    // checkpoint, and Bench/QueryProbe (the only callers) rebuild each
    // query's DataFrame from fn() on every leg.
    //
    // r11 guard (VERDICT r10 "what's wrong" 3): unpersisting a
    // locally-checkpointed RDD is UNRECOVERABLE for any caller still
    // holding a frame over it (lineage truncated, no recompute), so the
    // blanket sweep is gated on an explicit harness opt-in rather than
    // on the callers happening to uphold the rebuild-per-leg invariant.
    // Bench and QueryProbe set it at session start; library callers that
    // merely evict derived caches can no longer strand a checkpoint.
    if (sweepCheckpointsOnClear)
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .foreach(_.sparkContext.getPersistentRDDs.values
          .filter(org.apache.spark.rdd.GraftRddIntrospect.isLocallyCheckpointed)
          .foreach(_.unpersist(blocking = false)))
  }

  /** Free the blocks behind a frame returned by `localCheckpoint()`.
    * Only the code that made the checkpoint may call this, once nothing
    * will read it again: the lineage is truncated, so a frame still over
    * the freed RDD fails on its next use instead of recomputing. Blocking,
    * so the storage it held is gone when the call returns. Frames that
    * are not local checkpoints (parquet reads, derived views) are left
    * alone.
    */
  def releaseCheckpoint(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD
        if org.apache.spark.rdd.GraftRddIntrospect.isLocallyCheckpointed(r.rdd) =>
      r.rdd.unpersist(blocking = true)
    case _ => ()
  }

  /** Opt-in for the clearDerived checkpoint sweep. Only a harness that
    * rebuilds every DataFrame between clearDerived() calls (Bench's
    * cold-path boundary, QueryProbe's cold leg) may enable it: a live
    * frame over a swept checkpoint fails permanently on next use.
    */
  @volatile private var sweepCheckpointsOnClear = false
  def enableCheckpointSweep(): Unit = sweepCheckpointsOnClear = true
}
