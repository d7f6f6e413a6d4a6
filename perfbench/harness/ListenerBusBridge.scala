package org.apache.spark

/** The listener bus drain is package-private to Spark; this bridge lets
  * the benchmark wait on it, a real synchronization point, instead of
  * sleeping before it reads what its listeners collected.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
