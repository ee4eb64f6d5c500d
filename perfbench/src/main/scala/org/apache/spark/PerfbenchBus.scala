package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * span counters are read only once every event of the run has been
  * delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
