package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * spec that counts task metrics must see every event of the jobs it ran
  * before it reads its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
