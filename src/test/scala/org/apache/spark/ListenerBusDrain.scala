package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * a listener's counts are complete only once every posted event has
  * been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
