package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: wait until every queued listener event (jobs, tasks,
  * finished query executions) has been delivered, so counters read
  * after a phase are complete.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
