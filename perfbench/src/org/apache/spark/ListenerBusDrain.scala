package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered. Listener callbacks (QueryExecutionListener, SparkListener)
  * arrive asynchronously, so the harness drains the bus before it reads,
  * resets, attaches or detaches its listeners. The bus is package-private,
  * hence this object's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
