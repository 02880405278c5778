package org.apache.spark

/** Blocks until every listener queue has delivered the events posted so
  * far, so a traced op's spans are complete before they are read. The bus
  * is package-private; this is its only use. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
