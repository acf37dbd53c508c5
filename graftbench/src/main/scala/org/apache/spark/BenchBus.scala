package org.apache.spark

/** The one Spark-private call the benchmark needs: wait until every event
  * posted so far has reached the listeners, so per-pass counters are
  * complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
