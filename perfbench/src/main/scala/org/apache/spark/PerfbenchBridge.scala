package org.apache.spark

/** The one `private[spark]` member the harness needs: the listener bus is
  * asynchronous, so a census read right after an action can miss that
  * action's last task and job events until the bus has drained.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
