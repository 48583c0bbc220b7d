// Package-injected shim: the listener bus is private[spark]. Draining it
// is the only race-free way to read a SparkListener's totals after an
// action returns (task-end events are posted asynchronously).
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object BusShim {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
