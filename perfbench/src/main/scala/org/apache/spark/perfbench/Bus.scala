package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Spark-private state the tracer reads. */
object Bus {
  /** The listener bus: a traced span drains it before its counts are read,
    * so every event of the span has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Bytes of storage memory in use: persisted blocks and broadcasts. */
  def storageUsed(): Long = SparkEnv.get.memoryManager.storageMemoryUsed
}
