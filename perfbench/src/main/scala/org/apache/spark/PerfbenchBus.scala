package org.apache.spark

/** The listener bus delivers events asynchronously; per-layer numbers are read
  * only after it has drained. `waitUntilEmpty` is private[spark], hence this
  * package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
