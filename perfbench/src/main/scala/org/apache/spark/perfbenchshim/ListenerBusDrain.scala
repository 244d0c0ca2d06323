package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run drains it after
  * each operation (outside the timed span) so every event of that
  * operation has been delivered before the next one starts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
