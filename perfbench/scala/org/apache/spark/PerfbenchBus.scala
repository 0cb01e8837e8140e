package org.apache.spark

/** Lets the benchmark wait until every posted listener event was delivered,
  * so counters read after a run are complete. The bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
