package org.apache.spark

/** Blocks until every listener queue has delivered the events posted so
  * far, so a spec's listener has seen every job it asserts on. The bus is
  * package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
