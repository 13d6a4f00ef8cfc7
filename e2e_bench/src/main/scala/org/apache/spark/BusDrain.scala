package org.apache.spark

/** Listener events are delivered asynchronously. The traced run drains the
  * bus before it reads its counters, so every job, stage and task of the
  * run is counted. `listenerBus` is package-private, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
