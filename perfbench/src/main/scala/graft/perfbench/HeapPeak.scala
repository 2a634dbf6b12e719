package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The driver's peak live heap: after every collection, the used
  * bytes the heap pools report for the collection (their collection
  * usage), summed; the peak over the run is kept. Reading it costs
  * nothing between collections and runs no Spark work. */
final class HeapPeak {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (live > peak) peak = live }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Peak post-collection heap in MB; if no collection ran at all,
    * the pools' current use stands in, so the figure is never empty. */
  def peakMb: Double = {
    val p = if (peak > 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1048576.0
  }
}
