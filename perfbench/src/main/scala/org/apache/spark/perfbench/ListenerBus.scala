package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; the traced run needs it
  * so that an op's events are all delivered before it reads them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
