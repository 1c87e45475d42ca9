package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-private call the benchmark needs: block until every
  * posted listener event has been delivered, so an op's job, stage and
  * task events are all counted before the next op starts.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
