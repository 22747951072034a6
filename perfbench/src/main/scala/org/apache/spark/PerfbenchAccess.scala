package org.apache.spark

/** The one package-private call the benchmark needs: wait until every
  * posted listener event has been delivered, so span attribution sees all
  * of a finished interval's jobs, stages and tasks. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
