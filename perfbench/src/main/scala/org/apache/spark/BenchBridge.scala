package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so a traced run's
  * job and task records are complete before they are attributed.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
