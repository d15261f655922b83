package org.apache.spark

/** The one Spark-internal call the job-count specs need: wait until every
  * posted listener event has been delivered, so a listener's counts are
  * complete before they are read. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
