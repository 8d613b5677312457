package org.apache.spark

/** The two Spark-internal reads the benchmark needs, kept in one file because
  * they are `private[spark]`: block-manager storage memory in use (for
  * `cache_peak_mb`) and draining the listener bus so a traced pass's events
  * have all been delivered before its spans are summarised.
  */
object PerfbenchBridge {

  /** Bytes the block manager's memory store holds: cached partitions,
    * checkpointed loop states and broadcast pieces. One executor in local mode.
    */
  def storageBytesUsed(): Long = SparkEnv.get.memoryManager.storageMemoryUsed

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
