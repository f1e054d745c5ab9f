package org.apache.spark

/** Bridge to Spark's `private[spark]` listener bus. Listener events are
  * delivered asynchronously, so a profile read right after an action can
  * miss its last task ends; `waitUntilEmpty` returns once every event
  * posted so far has reached every listener (a sleep is only a guess). */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
