package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps private. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
