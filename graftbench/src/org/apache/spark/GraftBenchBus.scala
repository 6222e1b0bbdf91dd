package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it to
  * read counts that include the work just finished. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
