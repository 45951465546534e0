package org.apache.spark

/** Listener events arrive asynchronously; per-span task metrics are
  * read only after the bus has delivered every event posted so far.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
