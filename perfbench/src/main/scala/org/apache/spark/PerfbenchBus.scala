package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-op counters are read only after every event of the run has been
  * delivered to the benchmark's listener. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
