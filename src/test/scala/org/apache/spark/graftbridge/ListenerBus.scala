package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to Spark's package-private listener bus. */
object ListenerBus {
  /** Block until every posted event has reached its listeners, so a
    * listener's counts are complete when read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
