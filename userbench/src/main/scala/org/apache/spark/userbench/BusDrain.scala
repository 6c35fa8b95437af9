package org.apache.spark.userbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced run waits
  * for it between ops so every event lands on the op that caused it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
