package org.apache.spark

/** Access to internals Spark keeps package-private. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Storage memory (cached and broadcast blocks) in use, in MB. */
  def storageMb: Double = SparkEnv.get.memoryManager.storageMemoryUsed / 1048576.0
}
