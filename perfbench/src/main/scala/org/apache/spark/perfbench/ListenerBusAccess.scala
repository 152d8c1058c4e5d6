package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run reads
  * its listener only after every event posted so far has been handled.
  * `listenerBus` is package-private to Spark, hence this one-line bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
