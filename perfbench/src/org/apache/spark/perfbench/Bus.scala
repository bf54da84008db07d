package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps `private[spark]`. */
object Bus {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Events dropped so far because a listener queue was full. */
  def dropped(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala.collect {
      case (name, c) if name.endsWith("numDroppedEvents") => c.getCount
    }.sum
}
