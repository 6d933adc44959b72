package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark must
  * read its listener only after every event of the measured operations
  * has been delivered. `waitUntilEmpty` is package-private to Spark,
  * hence this one-line bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
