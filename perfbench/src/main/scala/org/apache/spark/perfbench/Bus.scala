package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. The traced run drains the
  * bus after each key, so every event of a key is attributed to it before the
  * next key starts. (`listenerBus` is package-private to Spark.) */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
