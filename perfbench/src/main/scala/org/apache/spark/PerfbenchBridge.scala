package org.apache.spark

/** The one Spark-internal call the benchmark makes: block until every
  * listener event posted so far has been delivered, so a traced op's
  * counters are complete before they are read. Used only in traced runs,
  * after an op's timed interval has ended. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
