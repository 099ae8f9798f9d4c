package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; per-layer totals are
  * read only after it has caught up. `listenerBus` is package-private to
  * `org.apache.spark`, hence this one-line bridge.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
