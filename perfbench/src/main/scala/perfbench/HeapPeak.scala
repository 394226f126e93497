package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak heap the program keeps: the largest heap occupancy left after
  * any garbage collection since [[reset]]. Heap use before a
  * collection mostly shows how far the collector let the young
  * generation grow; what survives a collection shows what the program
  * holds. If no collection ran, the heap in use when read counts. */
final class HeapPeak {
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val after = info.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
        synchronized { peak = peak max after }
      }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }

  def megabytes: Double = synchronized {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (peak > 0) peak else now) / (1024.0 * 1024.0)
  }
}
