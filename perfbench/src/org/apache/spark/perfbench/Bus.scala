package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one package-private hook the tracer needs: block until every
  * listener queue (shared, streams, app-status) has delivered what was
  * posted so far, so a traced pass's events are all recorded before its
  * listeners are detached and its counters are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
