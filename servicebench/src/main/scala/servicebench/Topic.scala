package servicebench

import scala.collection.mutable.ArrayBuffer

import graft.connect.{ConnectorConfig, Event, EventSource, EventSourceFactory, ReadPolicy}

/** An in-process topic: an append-only log of events, each stamped
  * with the time it was appended.
  */
final class BenchTopic(val name: String) {
  private val log = ArrayBuffer[Event]()
  private val stamps = ArrayBuffer[Long]()

  def append(value: Array[Byte], contentType: String): Long = synchronized {
    val off = log.size.toLong
    log += Event(name, 0, off, Array.emptyByteArray, value, Map("Content-Type" -> contentType))
    stamps += System.nanoTime()
    off
  }

  def end: Long = synchronized(log.size.toLong)
  def appendedAt(offset: Long): Long = synchronized(stamps(offset.toInt))

  def read(from: Long, max: Int): Seq[Event] = synchronized {
    log.slice(from.toInt, math.min(log.size, from.toInt + max)).toSeq
  }
}

/** What the connector's calls into its source looked like. */
final class SourceStats {
  val commitNanos = ArrayBuffer[Long]()
  val eventsPerCommit = ArrayBuffer[Int]()
  @volatile var firstDelivery: Long = -1L
  @volatile var backlogMax: Long = 0L
  @volatile var committedOffset: Long = 0L
}

/** An [[EventSource]] with the Kafka adapter's batching: a poll that
  * finds the local buffer empty fetches up to `max.poll.records`
  * events from the topic, `availableImmediately` reports whether that
  * batch still holds events, and `remaining` is the consumer's lag,
  * `end − position`: events on the topic not yet fetched. As with a
  * Kafka consumer, the position is already past the fetched batch.
  */
final class BenchSource(topic: BenchTopic, start: Long, maxPollRecords: Int,
    spans: Spans, val stats: SourceStats) extends EventSource {
  private val buffer = scala.collection.mutable.Queue[Event]()
  private var position = start

  override def poll(): Option[Event] = {
    if (buffer.isEmpty) {
      val fetched = spans("source.poll") {
        val batch = topic.read(position, maxPollRecords)
        position += batch.size
        batch
      }
      buffer ++= fetched
      if (fetched.nonEmpty && stats.firstDelivery < 0) stats.firstDelivery = System.nanoTime()
    }
    if (buffer.isEmpty) None else Some(buffer.dequeue())
  }

  override def remaining(): Option[Long] = {
    val r = topic.end - position
    if (r > stats.backlogMax) stats.backlogMax = r
    Some(r)
  }

  override def availableImmediately(): Boolean = buffer.nonEmpty

  override def processed(events: Seq[Event]): Unit = spans("source.processed") {
    if (events.nonEmpty) {
      stats.commitNanos += System.nanoTime()
      stats.eventsPerCommit += events.size
      stats.committedOffset = events.map(_.offset).max + 1
    }
  }
}

/** Hands every connector a [[BenchSource]] over its topic, resuming at
  * the offsets the engine read from the connector's state file.
  */
final class BenchSourceFactory(topic: BenchTopic, spans: Spans) extends EventSourceFactory {
  @volatile var created: BenchSource = _

  override def create(config: ConnectorConfig, policy: ReadPolicy,
      startOffsets: Map[(String, Int), Long]): EventSource = {
    val s = new BenchSource(topic, startOffsets.getOrElse((topic.name, 0), 0L),
      config.maxPollRecords, spans, new SourceStats)
    created = s
    s
  }
}
