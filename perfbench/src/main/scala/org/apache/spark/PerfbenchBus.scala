package org.apache.spark

/** Bridge to Spark's `private[spark]` listener bus. Listener events are
  * delivered asynchronously; the benchmark reads its counters only after
  * every event posted so far has reached every listener, and
  * `waitUntilEmpty` is the deterministic way to wait for that (a sleep
  * is a guess). SQL-execution and streaming-progress listeners ride the
  * same bus, so one drain covers all three trackers. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
