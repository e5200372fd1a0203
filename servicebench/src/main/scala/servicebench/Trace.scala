package servicebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.connect.{BatchSink, MaterialisedEvent, QuadStoreSink}

/** Spans recorded at the benchmark's own boundaries. Disabled, a span
  * is a plain call. Enabled, each span keeps its name, start and end,
  * its parent (the enclosing span on the same thread) and a request id
  * (given, or inherited from the parent). Spans stay in memory until
  * the run ends. `overheadNs` is the time spent in the bookkeeping.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  val overheadNs = new AtomicLong

  def apply[T](name: String, req: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val a = System.nanoTime()
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val rid = if (req >= 0) req else outer.headOption.map(_._2).getOrElse(-1L)
      stack.set((id, rid) :: outer)
      val start = System.nanoTime()
      overheadNs.addAndGet(start - a)
      try f
      finally {
        val end = System.nanoTime()
        stack.set(outer)
        done.add(Span(id, name, start, end, outer.headOption.map(_._1).getOrElse(0L), rid))
        overheadNs.addAndGet(System.nanoTime() - end)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  /** Per span name: count, total ms and self ms (duration minus the
    * durations of direct children).
    */
  def summary: Map[String, (Int, Double, Double)] = {
    val spans = all
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(_.durNs).sum / 1e6,
        ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e6)
    }
  }
}

object Spans {
  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, req: Long) {
    def durNs: Long = end - start
  }
}

/** The [[QuadStoreSink]] the server would build, with each `apply`
  * timed (and recorded as a `sink.apply` span).
  */
final class TimedSink(inner: QuadStoreSink, spans: Spans) extends BatchSink {
  val applyNanos = ArrayBuffer[Long]()

  override def apply(batchId: Long, events: Seq[MaterialisedEvent]): Unit = {
    val t0 = System.nanoTime()
    spans("sink.apply", batchId)(inner.apply(batchId, events))
    applyNanos.synchronized(applyNanos += System.nanoTime() - t0)
  }
  override def resumeBatchId: Long = inner.resumeBatchId
  override def exclusively[T](f: => T): T = inner.exclusively(f)
  override def loadRoot: Option[java.nio.file.Path] = inner.loadRoot
}

/** Spark runtime totals over a window, from a bench-registered
  * listener. Events are counted when their own timestamp falls inside
  * the window, so events of earlier jobs delivered late are not.
  */
final class SparkProbe(spans: Spans) extends SparkListener {
  @volatile private var from = Long.MaxValue
  @volatile private var until = Long.MaxValue
  private var active = 0
  private var busySince = 0L
  private var busyMs = 0L
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L

  private def inWindow(t: Long) = t >= from && t <= until

  def open(): Unit = synchronized {
    from = System.currentTimeMillis(); until = Long.MaxValue
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleRead = 0; shuffleWrite = 0; spill = 0; input = 0; output = 0
    busyMs = 0; busySince = if (active > 0) from else 0L
  }

  /** Close the window; waits briefly for running jobs to report. */
  def close(): Double = {
    val end = System.currentTimeMillis()
    val deadline = end + 5000
    while (synchronized(active > 0) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300)
    synchronized {
      until = end
      if (active > 0 && end > math.max(busySince, from)) {
        busyMs += end - math.max(busySince, from)
        busySince = end
      }
      (end - from) / 1e3
    }
  }

  def driverOnlyS(windowS: Double): Double = synchronized(math.max(0.0, windowS - busyMs / 1e3))

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(f)
    spans.overheadNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    if (inWindow(e.time)) jobs += 1
    if (active == 0) busySince = math.max(e.time, from)
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    active = math.max(0, active - 1)
    if (active == 0) {
      val busy = math.min(e.time, until) - math.max(busySince, from)
      if (busy > 0) busyMs += busy
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    if (e.stageInfo.completionTime.exists(inWindow)) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (inWindow(e.taskInfo.finishTime) && m != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }
}
