package org.apache.spark

/** Test access to one Spark-internal call: block until every listener event
  * posted so far has been delivered, so a QueryExecutionListener has seen
  * every query that finished before the call. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
