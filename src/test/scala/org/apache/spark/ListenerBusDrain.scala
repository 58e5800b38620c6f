package org.apache.spark

/** Blocks until every event already posted to the live listener bus has
  * been delivered, so a spec's listener has seen all of the work
  * submitted before the call. The bus is `private[spark]`, hence this
  * helper lives in Spark's package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
