package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it before attributing jobs and tasks to the ops that ran them.
  * `listenerBus` is private[spark], hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
