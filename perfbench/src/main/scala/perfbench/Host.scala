package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host noise and JVM resource readings around a measured window.
  *
  * CPU shares come from `/proc/stat` deltas: on a virtual machine the
  * load average can read 0 while a neighbour steals a fifth of the CPU,
  * so steal and idle time are read directly. */
object Host {
  /** (steal, idle + iowait, total) jiffies of the aggregate cpu line. */
  private def procStat(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val v = l.trim.split("\\s+").drop(1).map(_.toLong)
        def at(i: Int) = if (i < v.length) v(i) else 0L
        // guest time is already counted in user time
        (at(7), at(3) + at(4), v.take(8).sum)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Window opened by [[start]]; [[Window.close]] returns its readings. */
  final class Window private[Host] () {
    private val stat0 = procStat()
    private val cpu0 = os.getProcessCpuTime
    private val gc0 = gcMs
    private val wall0 = System.nanoTime()
    def close(): Map[String, Double] = {
      val wall = (System.nanoTime() - wall0) / 1e9
      val shares = for ((s0, i0, t0) <- stat0; (s1, i1, t1) <- procStat()
                        if t1 > t0)
        yield Map("host.steal_share" -> (s1 - s0).toDouble / (t1 - t0),
                  "host.idle_share" -> (i1 - i0).toDouble / (t1 - t0))
      shares.getOrElse(Map.empty) ++ Map(
        "jvm.cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
        "jvm.gc_s" -> (gcMs - gc0) / 1e3,
        "host.wall_s" -> wall)
    }
  }
  def start(): Window = new Window()

  /** Peak heap in use after a collection, over the collections since
    * [[HeapPeak.reset]]: the live set, which does not depend on when
    * the collector happens to run. */
  object HeapPeak {
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    private val listener = new javax.management.NotificationListener {
      override def handleNotification(n: javax.management.Notification, h: Any): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(listener, null, null)
      case _ =>
    }
    /** Starts a new peak from the live set: a full collection first
      * clears the garbage earlier work left in the old generation,
      * which young collections would otherwise count as in use. */
    def reset(): Unit = {
      System.gc()
      synchronized { peak = 0L }
    }
    /** The peak since reset; with no collection since, the heap now. */
    def mb: Double = synchronized {
      val p = if (peak > 0) peak
        else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      p / (1024.0 * 1024.0)
    }
  }
}
