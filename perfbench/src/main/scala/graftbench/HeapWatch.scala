package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Largest heap in use right after a collection since [[reset]]: the
  * live set a job holds at its fullest, without the garbage that
  * plain "used" also counts. Fed by the JVM's GC notifications. */
object HeapWatch {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized { if (used > peak) peak = used }
    }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }

  def peakMb(): Double = synchronized { peak / (1024.0 * 1024.0) }
}
