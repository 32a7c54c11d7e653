package org.apache.spark

/** The one package-private hook the benchmark needs: block until the
  * listener bus has delivered every event posted so far. A Spark action
  * returns once its job-end event is posted, not once listeners have seen
  * it, so span counters read without this would miss the last job. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
