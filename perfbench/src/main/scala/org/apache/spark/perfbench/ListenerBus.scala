package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The pieces of SparkContext that Spark keeps package-private and the
  * collector needs. */
object ListenerBus {
  /** Local property that carries a job's group id. */
  val JobGroupId: String = SparkContext.SPARK_JOB_GROUP_ID

  /** Wait until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
