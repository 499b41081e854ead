package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain, so counters read after a phase hold every event the
  * phase produced. Lives under `org.apache.spark` because the bus is
  * package-private there. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
