package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

/** Stop-the-world GC pauses reported by the JVM while [[start]]ed:
  * their total and the longest one. Concurrent collector cycles do not
  * stop the application and are not counted.
  */
final class GcMonitor {
  @volatile private var active = false
  private var totalMs = 0L
  private var maxMs = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (active && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        if (!info.getGcName.contains("Concurrent")) {
          val ms = info.getGcInfo.getDuration
          GcMonitor.this.synchronized {
            totalMs += ms
            maxMs = math.max(maxMs, ms)
          }
        }
      }
  }

  private val emitters = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq.collect {
      case e: NotificationEmitter => e
    }
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def start(): Unit = { active = true }
  def stop(): Unit = { active = false }

  def close(): Unit =
    emitters.foreach(e => try e.removeNotificationListener(listener)
      catch { case _: Exception => () })

  def pauseS: Double = synchronized(totalMs / 1e3)
  def maxPauseS: Double = synchronized(maxMs / 1e3)
}
