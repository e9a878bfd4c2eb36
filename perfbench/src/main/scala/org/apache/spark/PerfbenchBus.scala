package org.apache.spark

/** Lets the benchmark wait until its SparkListener has seen every event
  * of the jobs it just ran (the listener bus delivers asynchronously). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
