package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * per-span metrics are read only after every posted event arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
