package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * traced run reads complete job and task records. `waitUntilEmpty` is
  * Spark-internal, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
