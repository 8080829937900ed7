package org.apache.spark

/** Access to Spark's listener bus, which is package-private. */
object PerfbenchBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
