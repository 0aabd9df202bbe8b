package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * a spec counting jobs from a listener reads its count only after
  * every posted event arrived. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
