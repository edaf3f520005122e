package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer. */
object Bus {
  /** Block until every posted listener event has been delivered, so
    * counters read afterwards include all work done before the call.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
