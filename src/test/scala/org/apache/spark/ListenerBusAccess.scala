package org.apache.spark

/** Test access to the context's listener bus, which is `private[spark]`. */
object ListenerBusAccess {

  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
