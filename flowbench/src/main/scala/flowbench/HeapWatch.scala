package flowbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** Peak heap retained across collections: the largest heap in use right
  * after any collection since the last `reset`. Unlike the pools' raw
  * peaks, which mostly record how full eden got before the collector ran,
  * this follows what the program keeps alive.
  */
final class HeapWatch extends NotificationListener with AutoCloseable {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var max = 0L
  emitters.foreach(_.addNotificationListener(this, null, null))

  def peak: Long = max

  def reset(): Unit = synchronized { max = 0L }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData
        .asInstanceOf[CompositeData])
      // G1's concurrent-cycle pauses leave eden as it was: not a
      // measure of what survives
      if (!info.getGcName.contains("Concurrent")) {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > max) max = used }
      }
    }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}
