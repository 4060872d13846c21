package org.apache.spark

/** The benchmark's one reach into Spark internals: wait until every
  * listener has been handed every event posted so far, so the task
  * metrics of an operation that just returned are all counted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
