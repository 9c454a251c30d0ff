package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Process-wide counters read at pass boundaries, in both runs. */
object Probes {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val freed = new AtomicLong
  private val seen = new AtomicLong

  /** Heap bytes allocated since start = heap in use now + every byte a
    * collection has freed. Each GC notification carries the pools'
    * usage before and after, so nothing depends on thread lifetimes. */
  def install(): Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gi = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          def used(m: java.util.Map[String, java.lang.management.MemoryUsage]) =
            m.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          freed.addAndGet(used(gi.getMemoryUsageBeforeGc) - used(gi.getMemoryUsageAfterGc))
          seen.incrementAndGet()
        }
    }
    gcBeans.foreach(_.asInstanceOf[NotificationEmitter]
      .addNotificationListener(listener, null, null))
  }

  private def collections: Long = gcBeans.map(_.getCollectionCount).filter(_ > 0).sum

  /** Notifications arrive on their own thread; wait (briefly) until every
    * collection counted so far has been accounted for. */
  def allocatedBytes(): Long = {
    val deadline = System.nanoTime() + 500000000L
    while (seen.get < collections && System.nanoTime() < deadline) Thread.sleep(2)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed + freed.get
  }

  def gcSeconds(): Double = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Bytes this process handed to write(2): store files, shuffle files,
    * spill and logs. */
  def writtenBytes(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst {
        case l if l.startsWith("wchar:") => l.split(":")(1).trim.toLong
      }.getOrElse(-1L) finally src.close()
    } catch { case _: java.io.IOException => -1L }

  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: java.io.IOException => "" }
}
