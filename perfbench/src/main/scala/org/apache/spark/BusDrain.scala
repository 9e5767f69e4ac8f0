package org.apache.spark

/** The listener bus delivers events on its own thread. A traced run
  * waits for it to empty after each operation, so every event of the
  * operation is counted before the next one starts. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
