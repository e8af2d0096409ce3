package org.apache.spark.rdd

/** Accessor for the `private[spark]` local-checkpoint flag: graft's
  * cache eviction (graft.core.Caches.clearDerived) frees the
  * per-invocation localCheckpoint blocks a long benchmark session
  * accumulates, and must distinguish them from the persisted RDDs that
  * back SQL-cached DataFrames (which it must NOT touch); the training
  * loops free their superseded generations through
  * graft.core.Caches.releaseCheckpoint under the same test. The public
  * RDD surface exposes `isCheckpointed` (true only after
  * materialization, and also true for reliable checkpoints) but not
  * the mark itself, hence this package-scoped shim.
  */
object GraftRddIntrospect {
  def isLocallyCheckpointed(r: RDD[_]): Boolean = r.isLocallyCheckpointed
}
