package org.apache.spark

/** The listener bus delivers events asynchronously; a test drains it
  * before reading what a SparkListener saw. `listenerBus` is
  * private[spark], hence this package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
