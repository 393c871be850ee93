package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  *
  * The listener bus is private to Spark; the benchmark drains it after each
  * traced operation (outside the timed region) so that the jobs, stages and
  * query-execution callbacks it collected all belong to that operation. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
