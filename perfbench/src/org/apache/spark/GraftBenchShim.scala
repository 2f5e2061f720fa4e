package org.apache.spark

/** The one private[spark] call the benchmark needs: wait until the
  * listener bus has delivered every posted event, so a query's spans
  * are complete before the next query starts.
  */
object GraftBenchShim {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
