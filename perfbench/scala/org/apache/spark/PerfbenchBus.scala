package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run needs it so
  * that every job, task and query event of a traced operation is delivered
  * before the operation's numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
