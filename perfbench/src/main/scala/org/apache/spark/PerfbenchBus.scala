package org.apache.spark

/** Spark internals the benchmark reads that have no public accessor,
  * hence the shim in Spark's package.
  */
object PerfbenchBus {
  /** The listener bus delivers events asynchronously; the benchmark reads
    * its listener's totals only after every event of the measured calls
    * has been delivered.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Memory + disk bytes of the RDD blocks the block manager master
    * holds now. Unlike `getRDDStorageInfo`, which reads the status store
    * that another listener thread fills, this asks the master directly.
    */
  def rddStorageBytes(sc: SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.valuesIterator)
      .map(b => b.memSize + b.diskSize).sum
}
