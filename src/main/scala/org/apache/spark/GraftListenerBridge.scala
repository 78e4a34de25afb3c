package org.apache.spark

import org.apache.spark.storage.RDDInfo

/** Bridge to the listener bus and the RDD scopes, which Spark keeps
  * package-private: `graft.Profile` waits for every event a query posted
  * to reach its listeners before it reads them, and names a job by the
  * operator scopes of its RDDs. */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The operator an RDD was made by, e.g. `Exchange`. */
  def scope(rdd: RDDInfo): Option[String] = rdd.scope.map(_.name)
}
