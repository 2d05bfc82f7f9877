package org.apache.spark.pathbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; its drain call is
  * package-private to Spark, so the benchmark reaches it from here. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
