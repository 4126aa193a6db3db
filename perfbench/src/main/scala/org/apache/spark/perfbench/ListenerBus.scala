package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so attribution after a traced pass sees all of them.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
