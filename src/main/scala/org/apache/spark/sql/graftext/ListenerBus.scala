package org.apache.spark.sql.graftext

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps `private[spark]`. */
object ListenerBus {
  /** Block until every queued listener event, QueryExecutionListener
    * callbacks included, has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
