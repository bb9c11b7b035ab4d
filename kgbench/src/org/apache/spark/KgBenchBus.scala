package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * event posted so far; `SparkContext.listenerBus` is package-private.
  */
object KgBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
