package org.apache.spark

/** The one private Spark member the harness needs: listener events are
  * delivered asynchronously, so a traced run drains the bus before it
  * attributes jobs and stages to its spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
