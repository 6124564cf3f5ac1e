package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so span counters are complete when a span closes. The
  * listener bus is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
