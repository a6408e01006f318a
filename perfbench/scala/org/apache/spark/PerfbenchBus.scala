package org.apache.spark

/** Lets the benchmark wait until Spark has delivered every listener event,
  * so a traced phase's spans are complete before they are written out.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
