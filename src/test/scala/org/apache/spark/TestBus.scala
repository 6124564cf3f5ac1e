package org.apache.spark

/** Lets a spec wait until every posted listener event has been
  * delivered, so a SparkListener's counts are complete. The listener
  * bus is `private[spark]`, hence this package.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
