package org.apache.spark

/** Test access to Spark internals the specs need. */
object SpecAccess {

  /** Block until every event posted so far has reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
