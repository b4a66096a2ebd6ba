package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * posted listener event has been delivered, so a traced run's event log
  * is complete before it is written out. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
