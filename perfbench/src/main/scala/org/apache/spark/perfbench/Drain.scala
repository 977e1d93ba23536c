package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; before the traced run
  * reads its counters after an operation it waits until every event
  * posted so far has been delivered. The bus's drain call is private to
  * Spark's own package, hence this one-line bridge.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
