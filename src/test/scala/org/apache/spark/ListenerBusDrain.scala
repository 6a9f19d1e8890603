package org.apache.spark

/** Test access to the `private[spark]` listener bus: blocks until every
  * event posted so far has reached the listeners, so a spec can count
  * the jobs an action started right after the action returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
