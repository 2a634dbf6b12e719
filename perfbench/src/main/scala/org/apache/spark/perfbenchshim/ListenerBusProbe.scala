package org.apache.spark.perfbenchshim

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Read-only access to the driver's listener bus, which Spark keeps
  * package-private: the tracer must drain the bus before it reads its
  * listeners' counts, and must report how many events the bus dropped
  * (a dropped event is an undercounted job, stage or task). */
object ListenerBusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)

  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala.collect {
      case (name, c) if name.endsWith("numDroppedEvents") => c.getCount
    }.sum
}
