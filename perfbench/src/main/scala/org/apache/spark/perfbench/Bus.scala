package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is private[spark]; the traced run needs it so
  * that every event an op caused is delivered before the op's span
  * closes. Lives in the org.apache.spark namespace only for access.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
