package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Largest heap occupancy right after any GC while `measuring` is set,
  * read from the JVM's GC notifications. */
final class HeapWatch {
  @volatile var measuring = false
  @volatile private var peak = 0L
  @volatile private var seen = 0L

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (measuring) peak = math.max(peak, used)
        seen += 1
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Ends the measured window with one full collection, so that a pass
    * short enough to see no GC still reports its live heap. */
  def finish(): Double = {
    val before = seen
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (seen == before && System.nanoTime() < deadline) Thread.sleep(5)
    measuring = false
    peak / (1024.0 * 1024.0)
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}
