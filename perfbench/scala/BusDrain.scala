package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so a
  * traced op's listener records are complete before the next op starts.
  * `listenerBus` is private[spark]; this object lives in the spark package
  * for that reason only. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
