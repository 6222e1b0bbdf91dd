package org.apache.spark

/** The listener bus's drain is package-private; a test that counts events
  * needs it to see the events of the work it just ran. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
