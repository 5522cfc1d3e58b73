package org.apache.spark

/** Lets the harness wait until the listener bus has delivered every
  * event, so a summary taken at run end sees every job that ran.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
