package graft.connect

import java.time.Duration
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The real Kafka adapter behind [[EventSource]] — the engine's
  * `KafkaEventSource`/`KafkaRdfPayloadSource` (reference wiring
  * FKS.java:117-127), implementing the consumer contract documented
  * method-by-method on the trait ([[EventSource]] scaladoc).
  *
  * BINDING: the container this engine builds in ships no kafka-clients
  * jar, so the adapter binds to the PUBLIC `org.apache.kafka.clients`
  * consumer API reflectively — it compiles and tests with no Kafka on
  * the compile classpath, and activates at runtime the moment
  * kafka-clients is present (cluster deployments put it there; Spark's
  * own kafka integration does the same dance via its optional module).
  * [[KafkaEventSource.isAvailable]] reports bindability; the unit
  * suite drives the FULL contract against an in-JVM stub of the same
  * public API, so every mapping below (policy seeks, buffered poll,
  * lag query, commit fold) is exercised even where no broker exists.
  *
  * Mapping (reference semantics cited on the trait):
  *  - construction: one consumer, `group.id` = connector group,
  *    byte-array deserializers (payload decode stays lazy),
  *    `enable.auto.commit=false` (commit-on-processed only);
  *    subscribe, wait for assignment, then apply the [[ReadPolicy]] —
  *    Replay → seekToBeginning, Latest → seekToEnd, Sync → seek each
  *    partition to its stored next-to-read offset (absent → beginning).
  *  - poll(): serve the buffered batch one event at a time; refill
  *    with `consumer.poll(pollTimeout)` when drained (10 s default,
  *    FKConst.java:32).
  *  - remaining(): Σ endOffsets − position over the assignment; None
  *    on any failure.
  *  - availableImmediately(): pure buffer check.
  *  - processed(): per-partition max(offset)+1 → commitSync.
  */
final class KafkaEventSource(
    bootstrapServers: String,
    topics: Seq[String],
    groupId: String,
    extraProps: Map[String, String] = Map.empty,
    policy: ReadPolicy = ReadPolicy.Latest,
    startOffsets: Map[(String, Int), Long] = Map.empty,
    pollTimeoutMillis: Long = 10000L,
    assignWaitMillis: Long = 5000L) extends EventSource with AutoCloseable {
  import KafkaEventSource._

  private val consumer: AnyRef = {
    val props = new Properties()
    extraProps.foreach { case (k, v) => props.put(k, v) }
    props.put("bootstrap.servers", bootstrapServers)
    props.put("group.id", groupId)
    props.put("key.deserializer",
      "org.apache.kafka.common.serialization.ByteArrayDeserializer")
    props.put("value.deserializer",
      "org.apache.kafka.common.serialization.ByteArrayDeserializer")
    props.put("enable.auto.commit", "false")
    consumerCtor.newInstance(props).asInstanceOf[AnyRef]
  }

  /** Partitions whose read-policy seek already happened — the policy
    * applies ONCE per partition, on its FIRST assignment to this
    * consumer; a partition re-assigned by a later rebalance resumes
    * from its committed offset (correct post-startup behavior).
    */
  private val policyApplied = mutable.Set[(String, Int)]()

  /** Apply the read policy to the not-yet-seeked members of an
    * assignment. Invoked from the rebalance listener (the reliable
    * hook kafka-clients provides for seek-on-assign — a partition can
    * be assigned at ANY poll, not just startup) and idempotently after
    * the startup wait.
    */
  private def applyPolicy(assigned: Seq[AnyRef]): Unit = synchronized {
    val fresh = assigned.filterNot(tp =>
      policyApplied.contains((tpTopic(tp), tpPartition(tp))))
    if (fresh.isEmpty) return
    policy match {
      case ReadPolicy.Replay =>
        mSeekToBeginning.invoke(consumer, fresh.asJava)
      case ReadPolicy.Latest =>
        mSeekToEnd.invoke(consumer, fresh.asJava)
      case ReadPolicy.Sync =>
        // stored next-to-read offset per partition; absent → beginning
        val (known, unknown) = fresh.partition(tp =>
          startOffsets.contains((tpTopic(tp), tpPartition(tp))))
        known.foreach { tp =>
          mSeek.invoke(consumer, tp,
            java.lang.Long.valueOf(startOffsets((tpTopic(tp), tpPartition(tp)))))
        }
        if (unknown.nonEmpty) mSeekToBeginning.invoke(consumer, unknown.asJava)
    }
    fresh.foreach(tp => policyApplied += ((tpTopic(tp), tpPartition(tp))))
  }

  private val buffer = mutable.Queue[Event]()

  locally {
    // subscribe WITH a rebalance listener: seeks from inside
    // onPartitionsAssigned are the only reliable way to apply a read
    // policy — a partition may be assigned at any poll (slow group
    // coordinator, later rebalance), not just before the first one
    val listener = java.lang.reflect.Proxy.newProxyInstance(
      listenerCls.getClassLoader, Array(listenerCls),
      (proxy: AnyRef, method: java.lang.reflect.Method, args: Array[AnyRef]) =>
        method.getName match {
          case "onPartitionsAssigned" =>
            applyPolicy(args(0).asInstanceOf[java.util.Collection[AnyRef]]
              .asScala.toSeq)
            null
          case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
          case "hashCode" => Integer.valueOf(System.identityHashCode(this))
          case "toString" => "graft-read-policy-listener"
          case _ => null // onPartitionsRevoked / onPartitionsLost: no-op
        })
    mSubscribeListener.invoke(consumer, topics.asJava, listener)
    // startup bound: wait for the first assignment so the first real
    // poll observes post-policy positions; late assignments are still
    // covered by the listener. A poll that completes the rebalance can
    // RETURN records in the same invocation (after the listener's
    // onPartitionsAssigned seeks ran) — those records are real reads
    // whose positions have already advanced, so discarding them here
    // would make a later processed() commit past them and skip events
    // for the group permanently. Enqueue them.
    val deadline = System.nanoTime() + assignWaitMillis * 1000000L
    var assigned = assignment()
    while (assigned.isEmpty && System.nanoTime() < deadline) {
      val records = mPoll.invoke(consumer, Duration.ofMillis(50))
        .asInstanceOf[java.lang.Iterable[AnyRef]]
      records.asScala.foreach(r => buffer.enqueue(toEvent(r)))
      assigned = assignment()
    }
    applyPolicy(assigned) // idempotent if the listener already ran
  }

  private def assignment(): Seq[AnyRef] =
    mAssignment.invoke(consumer).asInstanceOf[java.util.Set[AnyRef]]
      .asScala.toSeq

  private def toEvent(rec: AnyRef): Event = {
    val headers = mRecHeaders.invoke(rec)
      .asInstanceOf[java.lang.Iterable[AnyRef]].asScala.map { h =>
        val v = mHeaderValue.invoke(h).asInstanceOf[Array[Byte]]
        mHeaderKey.invoke(h).asInstanceOf[String] ->
          (if (v == null) null else new String(v, java.nio.charset.StandardCharsets.UTF_8))
      }.toMap
    Event(
      mRecTopic.invoke(rec).asInstanceOf[String],
      mRecPartition.invoke(rec).asInstanceOf[java.lang.Integer].intValue(),
      mRecOffset.invoke(rec).asInstanceOf[java.lang.Long].longValue(),
      mRecKey.invoke(rec).asInstanceOf[Array[Byte]],
      mRecValue.invoke(rec).asInstanceOf[Array[Byte]],
      headers)
  }

  override def poll(): Option[Event] = {
    if (buffer.isEmpty) {
      val records = mPoll.invoke(consumer, Duration.ofMillis(pollTimeoutMillis))
        .asInstanceOf[java.lang.Iterable[AnyRef]]
      records.asScala.foreach(r => buffer.enqueue(toEvent(r)))
    }
    if (buffer.isEmpty) None else Some(buffer.dequeue())
  }

  override def remaining(): Option[Long] =
    try {
      val assigned = assignment()
      if (assigned.isEmpty) None
      else {
        val ends = mEndOffsets.invoke(consumer, assigned.asJava)
          .asInstanceOf[java.util.Map[AnyRef, java.lang.Long]].asScala
        // Σ end − position: the position is already past the buffered
        // batch, so the buffer is not in the lag to begin with
        Some(assigned.map { tp =>
          val pos = mPosition.invoke(consumer, tp)
            .asInstanceOf[java.lang.Long].longValue()
          math.max(0L, ends.get(tp).map(_.longValue()).getOrElse(pos) - pos)
        }.sum)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  override def availableImmediately(): Boolean = buffer.nonEmpty

  override def processed(events: Seq[Event]): Unit = {
    if (events.isEmpty) return
    // per-partition max(offset) + 1 — the next-to-read convention
    // (KafkaEventSource.determineCommitOffsetsFromEvents)
    val next = events.groupBy(e => (e.topic, e.partition)).map {
      case ((t, p), es) => newTp(t, p) -> newOam(es.map(_.offset).max + 1)
    }
    mCommitSync.invoke(consumer, next.asJava)
  }

  override def close(): Unit = mClose.invoke(consumer)
}

object KafkaEventSource {
  private def cls(n: String) = Class.forName(n)

  /** Whether kafka-clients is on the runtime classpath — the adapter
    * activation check the engine's factory consults.
    */
  def isAvailable: Boolean =
    try { cls("org.apache.kafka.clients.consumer.KafkaConsumer"); true }
    catch { case _: ClassNotFoundException => false }

  private lazy val consumerCls = cls("org.apache.kafka.clients.consumer.KafkaConsumer")
  private lazy val tpCls = cls("org.apache.kafka.common.TopicPartition")
  private lazy val oamCls = cls("org.apache.kafka.clients.consumer.OffsetAndMetadata")
  private lazy val recCls = cls("org.apache.kafka.clients.consumer.ConsumerRecord")

  private lazy val consumerCtor = consumerCls.getConstructor(classOf[Properties])
  private lazy val mSubscribe =
    consumerCls.getMethod("subscribe", classOf[java.util.Collection[_]])
  private lazy val listenerCls =
    cls("org.apache.kafka.clients.consumer.ConsumerRebalanceListener")
  private lazy val mSubscribeListener =
    consumerCls.getMethod("subscribe", classOf[java.util.Collection[_]], listenerCls)
  private lazy val mPoll = consumerCls.getMethod("poll", classOf[Duration])
  private lazy val mAssignment = consumerCls.getMethod("assignment")
  private lazy val mSeekToBeginning =
    consumerCls.getMethod("seekToBeginning", classOf[java.util.Collection[_]])
  private lazy val mSeekToEnd =
    consumerCls.getMethod("seekToEnd", classOf[java.util.Collection[_]])
  private lazy val mSeek = consumerCls.getMethod("seek", tpCls, java.lang.Long.TYPE)
  private lazy val mEndOffsets =
    consumerCls.getMethod("endOffsets", classOf[java.util.Collection[_]])
  private lazy val mPosition = consumerCls.getMethod("position", tpCls)
  private lazy val mCommitSync =
    consumerCls.getMethod("commitSync", classOf[java.util.Map[_, _]])
  private lazy val mListTopics = consumerCls.getMethod("listTopics")
  private lazy val mClose = consumerCls.getMethod("close")

  private lazy val tpCtor = tpCls.getConstructor(classOf[String], Integer.TYPE)
  private lazy val mTpTopic = tpCls.getMethod("topic")
  private lazy val mTpPartition = tpCls.getMethod("partition")
  private lazy val oamCtor = oamCls.getConstructor(java.lang.Long.TYPE)

  private lazy val mRecTopic = recCls.getMethod("topic")
  private lazy val mRecPartition = recCls.getMethod("partition")
  private lazy val mRecOffset = recCls.getMethod("offset")
  private lazy val mRecKey = recCls.getMethod("key")
  private lazy val mRecValue = recCls.getMethod("value")
  private lazy val mRecHeaders = recCls.getMethod("headers")
  private lazy val headerCls = cls("org.apache.kafka.common.header.Header")
  private lazy val mHeaderKey = headerCls.getMethod("key")
  private lazy val mHeaderValue = headerCls.getMethod("value")

  private def newTp(topic: String, partition: Int): AnyRef =
    tpCtor.newInstance(topic, Integer.valueOf(partition)).asInstanceOf[AnyRef]
  private def newOam(offset: Long): AnyRef =
    oamCtor.newInstance(java.lang.Long.valueOf(offset)).asInstanceOf[AnyRef]
  private def tpTopic(tp: AnyRef): String =
    mTpTopic.invoke(tp).asInstanceOf[String]
  private def tpPartition(tp: AnyRef): Int =
    mTpPartition.invoke(tp).asInstanceOf[java.lang.Integer].intValue()

  /** Topic existence probe for the startup gate
    * (FKS.checkTopicsExistAtStartup, FKS.java:140-194): a short-lived
    * consumer's topic listing. False on any failure — the engine's
    * retry-poll supplies the timeout semantics.
    */
  def topicExists(bootstrapServers: String, topic: String,
      props: Map[String, String] = Map.empty): Boolean =
    try {
      val p = new Properties()
      props.foreach { case (k, v) => p.put(k, v) }
      p.put("bootstrap.servers", bootstrapServers)
      p.put("group.id", s"graft-topic-check-${System.nanoTime()}")
      p.put("key.deserializer",
        "org.apache.kafka.common.serialization.ByteArrayDeserializer")
      p.put("value.deserializer",
        "org.apache.kafka.common.serialization.ByteArrayDeserializer")
      val c = consumerCtor.newInstance(p).asInstanceOf[AnyRef]
      try mListTopics.invoke(c).asInstanceOf[java.util.Map[String, _]]
        .containsKey(topic)
      finally mClose.invoke(c)
    } catch { case scala.util.control.NonFatal(_) => false }
}

/** [[EventSourceFactory]] over the reflective Kafka adapter — the
  * production factory `Engine.start` takes when kafka-clients is on
  * the classpath (builder seam FKS.java:117-127): consumer props from
  * the connector config (cluster-inherited + inline + file props,
  * group id never inherited), read policy and stored offsets passed
  * straight through.
  */
final class KafkaEventSourceFactory(pollTimeoutMillis: Long = 10000L)
    extends EventSourceFactory {
  override def create(config: ConnectorConfig, policy: ReadPolicy,
      startOffsets: Map[(String, Int), Long]): EventSource =
    new KafkaEventSource(
      bootstrapServers = config.bootstrapServers,
      topics = config.topics,
      groupId = config.consumerGroupId,
      extraProps = config.kafkaProps,
      policy = policy,
      startOffsets = startOffsets,
      pollTimeoutMillis = pollTimeoutMillis)
}
