package org.apache.spark

/** The one private Spark call the benchmark needs: block until every
  * event already posted to the listener bus has been delivered, so the
  * listener counters read afterwards are complete and repeat exactly
  * (a fixed sleep would race the bus under load). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
