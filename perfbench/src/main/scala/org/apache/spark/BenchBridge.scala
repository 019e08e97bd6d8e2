package org.apache.spark

/** The listener bus's drain is private to the spark package; the traced
  * run needs it so that every job, task and query event of an operation
  * has arrived before the operation's spans are closed.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
