package org.apache.spark

/** The listener bus's drain is package-private to Spark, hence this file's
  * package. Blocks until every event posted so far has reached every
  * listener, so counts read after it are exact rather than polled.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
