package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners hold the whole window's counts before they are
  * read. `listenerBus` is private to the `org.apache.spark` package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
