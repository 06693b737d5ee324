package org.apache.spark

/** Access to the `private[spark]` listener bus, so the traced run can
  * wait until every event of an operation has been delivered before it
  * closes that operation's books. Nothing in Spark is modified. */
object PerfbenchBridge {
  def flushListeners(sc: SparkContext): Unit = {
    sc.listenerBus.waitUntilEmpty(60000L)
    ()
  }
}
