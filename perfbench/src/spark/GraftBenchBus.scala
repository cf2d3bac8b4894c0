package org.apache.spark

/** The listener bus is `private[spark]`; this is the one place the
  * benchmark reaches it, to read listener counts only after every
  * event posted so far was delivered. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
