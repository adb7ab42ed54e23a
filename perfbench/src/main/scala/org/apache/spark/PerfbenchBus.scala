package org.apache.spark

/** Lets the harness drain Spark's asynchronous listener bus before it
  * reads listener totals, so every finished task is counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
