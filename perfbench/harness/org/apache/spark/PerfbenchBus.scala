package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener only after every event of the traced pass has arrived.
  * `listenerBus` is private[spark], hence this one-liner in Spark's
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
