package servicebench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One reported figure: its value, unit and the number of samples. */
final case class Figure(value: Double, unit: String, n: Int)

/** Everything a run reports: the checked-operation counts, end-to-end
  * figures, per-layer figures (traced runs), and the workload's own
  * figures that only make sense for it.
  */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, Figure]()
  val perLayer = mutable.LinkedHashMap[String, Figure]()
  val own = mutable.LinkedHashMap[String, Figure]()
  val samples = mutable.LinkedHashMap[String, Seq[Double]]()
  val errors = mutable.ArrayBuffer[String]()
  private var _attempted = 0L
  private var _failed = 0L

  def attempted: Long = synchronized(_attempted)
  def failed: Long = synchronized(_failed)

  /** Count one checked operation; `error` marks it failed. */
  def check(error: Option[String]): Boolean = synchronized {
    _attempted += 1
    error.foreach { e =>
      _failed += 1
      if (errors.size < 20) errors += e
    }
    error.isEmpty
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
  }
}

/** Peak heap occupancy right after a collection, over a window: the
  * live data the service holds, not the garbage between collections.
  */
final class HeapWatch extends NotificationListener {
  @volatile private var open = false
  @volatile private var peak = 0L
  @volatile var collections = 0

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def start(): Unit = { peak = 0L; collections = 0; open = true }

  /** Close the window: MB, and whether any collection fell inside. */
  def stop(): Double = {
    open = false
    (if (collections > 0) peak else used) / 1048576.0
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (open && n.getType == "com.sun.management.gc.notification") {
      val info = n.getUserData.asInstanceOf[CompositeData]
      val gcInfo = info.get("gcInfo").asInstanceOf[CompositeData]
      val after = gcInfo.get("memoryUsageAfterGc").asInstanceOf[javax.management.openmbean.TabularData]
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val total = after.values().asScala.map(_.asInstanceOf[CompositeData]).collect {
        case row if heapPools.contains(row.get("key").asInstanceOf[String]) =>
          row.get("value").asInstanceOf[CompositeData].get("used").asInstanceOf[Long]
      }.sum
      collections += 1
      if (total > peak) peak = total
    }
}
