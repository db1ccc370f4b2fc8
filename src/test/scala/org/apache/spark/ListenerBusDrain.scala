package org.apache.spark

/** Listener events reach a `SparkListener` asynchronously, after the
  * action that caused them returned; a spec that sums task metrics
  * first waits for the bus to deliver everything posted so far. The bus
  * is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
