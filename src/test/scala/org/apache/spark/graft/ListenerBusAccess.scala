package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs reads the count only after every event posted so far has
  * been handled. `listenerBus` is package-private to Spark, hence this
  * one-line bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
