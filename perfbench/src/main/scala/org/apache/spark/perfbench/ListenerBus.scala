package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The live listener bus delivers events asynchronously; per-group
  * aggregates are read only after it has drained. `listenerBus` is
  * package-private to `org.apache.spark`, hence this file's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
