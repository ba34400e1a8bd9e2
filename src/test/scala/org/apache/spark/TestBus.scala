package org.apache.spark

/** Test access to the listener bus: a job count read right after an
  * action must first see every event the action posted. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
