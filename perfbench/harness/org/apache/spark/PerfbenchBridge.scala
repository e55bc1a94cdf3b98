package org.apache.spark

/** The one Spark-private call the traced run needs: wait until every
  * listener event of the actions just run has been delivered, so a
  * unit's jobs, stages and query executions are complete before they
  * are read. Lives in Spark's package because the bus is `private[spark]`.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
