package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

/** What the figures were measured on. Every record carries it, because the
  * figures only compare between runs on the same kind of host.
  */
object Host {
  def provenance(sparkVersion: String, cores: Int): Map[String, String] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_master" -> s"local[$cores]",
      "mem_total_mb" -> (os.getTotalMemorySize >> 20).toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> sparkVersion,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
      "history_note" -> ("BENCH_r0*.json and BENCH.md were measured on a 32-core host; " +
        "they are history, not a baseline for these figures"))
  }

  private val burnSink = new AtomicLong(0)

  /** Wall seconds for `threads` threads to each run the same fixed integer
    * loop. Spark-free, so t(1) / t(n) is the host's own 1→n ceiling, the
    * figure that `scaling_eff` reads against.
    */
  def burn(threads: Int, iters: Long = 100000000L): Double = {
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        burnSink.addAndGet(x)
      })
      th.setDaemon(true)
      th
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

/** Heap occupancy right after each GC while armed, and GC totals. */
final class GcWatch {
  @volatile private var armed = false
  private val peak = new AtomicLong(0L)
  private val seen = new AtomicLong(0L)
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit = {
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (armed) peak.accumulateAndGet(after, math.max)
        seen.incrementAndGet()
      }
    }
  }
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def totals: (Long, Long) =
    (beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)

  def arm(): Unit = { peak.set(0L); armed = true }

  /** Ends the window with one full GC, so the peak has at least one sample,
    * and returns the highest after-GC heap occupancy seen in the window, MB.
    */
  def disarm(): Double = {
    val before = seen.get()
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    while (seen.get() == before && System.nanoTime() < deadline) Thread.sleep(5)
    armed = false
    peak.get() / 1048576.0
  }
}
