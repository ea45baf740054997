package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains it
  * before reading its listener's totals. `waitUntilEmpty` is private to the
  * spark package, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
