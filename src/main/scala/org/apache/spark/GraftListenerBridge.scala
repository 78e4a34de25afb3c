package org.apache.spark

/** Bridge to the listener bus, which Spark keeps package-private:
  * `graft.Profile` waits for every event a query posted to reach its
  * listeners before it reads them. */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
