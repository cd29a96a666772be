package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every task and job event of an op before it
  * reads the counters attributed to that op. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
