package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * Spark keeps its listener bus package-private; the benchmark needs the
  * drain so a traced run's task and SQL events are all counted before
  * its metrics are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
