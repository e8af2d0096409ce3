package graft.core

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator

/** Harness log hygiene (VERDICT r7 item 8).
  *
  * Every unpartitioned window in graft is over a BOUNDED frame (the
  * audited sites: post-limit top-N ranks, the 64-row dictionary offset
  * cumsum — PlanGuardSpec rejects any unbounded one), but WindowExec
  * still emits its single-partition WARN once per plan, flooding
  * hundreds of lines into bench/verify stdout (they truncated
  * BENCH_r07's tail). The warning is raised per-category, so the
  * surgical fix is one category filter — everything else stays at the
  * session's WARN level, and a future genuinely-unbounded window is
  * still caught by the PlanGuardSpec test rather than by log grep.
  */
object Logs {

  /** Demote the known-bounded WindowExec warning category to ERROR. */
  def quietBoundedWindowWarnings(): Unit =
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)

  /** Demote the per-block chatter of the bench's cold-path checkpoint
    * eviction (r11, VERDICT r10 item 1): every
    * Caches.clearDerived() unpersist of a locally-checkpointed RDD
    * emits a "lineage has been truncated" WARN (by design — the bench
    * rebuilds each frame per leg, so the truncation is intended) plus
    * BlockManager remove/re-add WARNs, thousands of lines over a
    * 277-query session that flooded the driver's recorded stderr tail.
    * Bench/QueryProbe sessions opt in; Verify and tests keep the
    * default so a genuinely unexpected truncation stays visible.
    */
  def quietCheckpointEvictionWarnings(): Unit = {
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    Configurator.setLevel("org.apache.spark.storage.BlockManager", Level.ERROR)
  }
}
