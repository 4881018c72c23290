package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: listeners run
  * asynchronously, so a spec drains the bus before it reads what a
  * listener recorded. */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
