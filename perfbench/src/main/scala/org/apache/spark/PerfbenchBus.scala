package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a traced
  * run drains it after each unit so every event of the unit has been
  * delivered before the unit's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
