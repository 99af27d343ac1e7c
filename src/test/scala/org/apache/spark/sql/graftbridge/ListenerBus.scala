package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Waits until the context's listener bus has delivered every event
  * posted so far (`listenerBus` is `private[spark]`), for tests that count
  * what a `SparkListener` saw. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
