package graft.perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** Peak live heap of one run: the largest heap occupancy left after a
  * garbage collection while the run is watched. `start` collects first,
  * so garbage of earlier runs is not counted. A run too short to collect
  * reports the heap in use when it stops.
  */
final class HeapWatch extends NotificationListener {

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var watching = false
  private var peak = 0L
  private var collections = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized {
        collections += 1
        if (watching) peak = math.max(peak, used)
      }
    }

  /** Forces a collection and waits (at most 2 s) for its notification,
    * which arrives on a JMX thread.
    */
  private def collect(): Unit = {
    val before = synchronized(collections)
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (synchronized(collections) == before && System.nanoTime() < deadline) Thread.sleep(1)
  }

  def start(): Unit = {
    collect()
    synchronized { peak = 0L; watching = true }
  }

  /** Peak bytes since `start`. */
  def stop(): Long = synchronized {
    watching = false
    if (peak > 0L) peak
    else ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getUsage.getUsed).sum
  }
}
