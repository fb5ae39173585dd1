package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so far.
  * `LiveListenerBus.waitUntilEmpty` is private to Spark, hence this package.
  */
object PipebenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
