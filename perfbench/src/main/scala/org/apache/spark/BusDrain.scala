package org.apache.spark

/** Blocks until every event already posted to the live listener bus has
  * been delivered, so a listener snapshot taken afterwards counts all of
  * the work submitted before the call. The bus is `private[spark]`, hence
  * this helper lives in Spark's package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
