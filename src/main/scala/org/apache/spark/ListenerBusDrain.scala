package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * harness or spec that counts task or job events must see every event of
  * the jobs it ran before it reads its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
