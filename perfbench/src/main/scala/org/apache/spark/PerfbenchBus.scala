package org.apache.spark

/** Drains Spark's listener bus, so that a listener's counters are
  * complete before the benchmark reads them. The bus is private to the
  * `org.apache.spark` package, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
