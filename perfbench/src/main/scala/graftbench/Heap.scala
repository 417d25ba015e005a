package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** Highest old-generation use after a collection while a block runs. */
object Heap {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")

  private lazy val installed: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, handback: Any): Unit =
            if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
                if (isOld(pool)) peak = math.max(peak, u.getUsed)
              }
            }
        }, null, null)
      case _ =>
    }

  /** Runs `f` after a full collection; returns its result and the peak
    * in MB (the old generation's use at the end if no collection ran). */
  def measure[A](f: => A): (A, Double) = {
    installed
    System.gc()
    peak = 0L
    armed = true
    val a = try f finally armed = false
    val end = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))
      .map(_.getUsage.getUsed).sum
    (a, (if (peak > 0) peak else end) / 1048576.0)
  }
}
