package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.queries.Tables.{d, dec}

/** Structured Streaming verify entries — real streaming queries
  * (file-stream source → watermark → stateful op → memory sink) whose
  * final tables match the same DuckDB oracles as their batch twins.
  * `Trigger.AvailableNow` drains the source and terminates, so the
  * entries are deterministic and driver-runnable.
  */
object StreamingQueries {

  /** events.parquet schema for the stream source. `ts` varies by
    * generator version — TIMESTAMP(NANOS) (read as long) or
    * TIMESTAMP(MICROS) (read as NTZ) — so probe the file's batch-read
    * type and mirror Tables.events' conversion to session-zone
    * TimestampType.
    */
  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    // the file-stream source requires a DIRECTORY; expose the single
    // events.parquet file through a temp dir via symlink
    val streamDir = Files.createTempDirectory("events_stream")
    Files.createSymbolicLink(streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val tsType = graft.queries.Tables
      .fileSchema(s, s"$dir/events.parquet")("ts").dataType
    val raw = s.readStream.schema(eventsSchema(tsType)).parquet(streamDir.toString)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Stream of `events.parquet` plus far-future sentinel rows (one per
    * (id, event_type) pair, with event_id = user_id = id < 0): the
    * final watermark then passes every real event, so watermark-driven
    * state (outer-join null rows, custom-state timeouts) fully drains
    * before AvailableNow terminates. Callers filter `user_id >= 0`.
    */
  private def eventsStreamWithSentinels(s: SparkSession, dir: String,
      sentinels: Seq[(Long, String)]): DataFrame = {
    val streamDir = Files.createTempDirectory("events_stream_sent")
    Files.createSymbolicLink(streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val raw = s.read.schema(graft.queries.Tables
      .fileSchema(s, s"$dir/events.parquet")).parquet(s"$dir/events.parquet")
    val tsType = raw.schema("ts").dataType
    val latest = raw.orderBy(col("ts").desc).limit(1)
    def sentinel(id: Long, kind: String) = {
      val bumped = tsType match {
        case LongType => latest.withColumn("ts", col("ts") + lit(86400L * 100 * 1000000000L))
        case _ => latest.withColumn("ts", col("ts") + expr("interval 100 days"))
      }
      bumped.withColumn("event_id", lit(id))
        .withColumn("user_id", lit(id))
        .withColumn("event_type", lit(kind))
    }
    val sentTmp = Files.createTempDirectory("sentinel")
    sentinels.map { case (id, kind) => sentinel(id, kind) }
      .reduce(_ unionByName _)
      .coalesce(1).write.mode("overwrite").parquet(sentTmp.toString)
    val part = Files.list(sentTmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, streamDir.resolve("zzz_sentinel.parquet"))
    val stream0 = s.readStream.schema(eventsSchema(tsType)).parquet(streamDir.toString)
    tsType match {
      case LongType => stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => stream0.withColumn("ts", col("ts").cast("timestamp"))
      case _ => stream0
    }
  }

  /** One event row for the custom-state sessionizer. */
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  private val SessionGapUs = 30L * 60 * 1000000

  /** Merge (startUs, lastUs, n, value×10⁴) interval aggregates whose
    * gaps are under [[SessionGapUs]] — an incoming event can BRIDGE two
    * open sessions, so merging is interval coalescing, not appending.
    */
  private[streaming] def mergeSessions(ss: List[(Long, Long, Long, Long)])
      : List[(Long, Long, Long, Long)] =
    ss.sortBy(_._1).foldLeft(List.empty[(Long, Long, Long, Long)]) {
      case ((cs, ce, cn, cv) :: rest, (s2, e2, n2, v2)) if s2 <= ce + SessionGapUs =>
        (cs, math.max(ce, e2), cn + n2, cv + v2) :: rest
      case (acc, s2) => s2 :: acc
    }.reverse

  /** flatMapGroupsWithState callback: per-user open sessions live in
    * [[GroupState]]; a session only emits once the event-time watermark
    * proves no later event can extend it (end + gap ≤ watermark), and
    * the group's timeout is re-armed at the earliest such maturity so
    * sessions drain without further input. Values are summed exactly as
    * value×10⁴ longs (the DECIMAL(12,4) the oracle uses) — a double
    * running sum would drift per fold order.
    */
  private def sessionize(user: Long, rows: Iterator[SessEvent],
      state: GroupState[List[(Long, Long, Long, Long)]])
      : Iterator[(Long, Long, Long, Long, Double)] = {
    val incoming = rows.map { e =>
      val us = Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000
      val v4 = new java.math.BigDecimal(java.lang.Double.toString(e.value))
        .setScale(4, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
      (us, us, 1L, v4)
    }.toList
    val merged = mergeSessions(state.getOption.getOrElse(Nil) ++ incoming)
    val wmUs = state.getCurrentWatermarkMs() * 1000
    val (mature, open) = merged.partition { case (_, e, _, _) => e + SessionGapUs <= wmUs }
    if (open.isEmpty) state.remove()
    else {
      state.update(open)
      val nextUs = open.map { case (_, e, _, _) => e + SessionGapUs }.min
      state.setTimeoutTimestamp(math.max(nextUs / 1000, state.getCurrentWatermarkMs() + 1))
    }
    mature.iterator.map { case (s0, e0, n, v4) =>
      (user, s0, e0 + SessionGapUs, n, java.math.BigDecimal.valueOf(v4, 4).doubleValue) }
  }

  private[graft] def runToTable(df: DataFrame, mode: String): DataFrame = {
    val name = "st_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // State partition count is fixed at first checkpoint from
    // spark.sql.shuffle.partitions; every micro-batch then COMMITS one
    // state-store file per partition per stateful sub-operator (a
    // stream-stream join keeps four stores per partition). At the
    // verify/bench scale that per-commit file I/O dominates the actual
    // work, so pin streaming queries to 8 state partitions — on a real
    // cluster the operator inherits the session's partitioning, and
    // this session-scoped override restores afterwards either way.
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // State-store provider: RocksDB + changelog checkpointing by
    // default. The HDFS-backed store writes one snapshot file per
    // partition per stateful operator per commit — the stream-stream
    // join entries (FOUR stores per partition) paid it hardest, and
    // the head-to-head (OPTIMIZATION_r09.md: join 5.2→4.0 s median,
    // join_outer 5.5→3.3 s; aggregations flat; custom-state +0.3 s)
    // favors RocksDB locally. At scale the choice is structural, not a
    // tuning knob: the HDFS store holds state in JVM heap maps, so
    // state beyond memory NEEDS RocksDB. SPARK_GRAFT_STREAM_STATESTORE
    // =hdfs restores the old provider for A/Bs.
    val provConf = "spark.sql.streaming.stateStore.providerClass"
    val chgConf =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevProv = spark.conf.getOption(provConf)
    val prevChg = spark.conf.getOption(chgConf)
    val useRocks =
      !sys.env.get("SPARK_GRAFT_STREAM_STATESTORE").contains("hdfs")
    if (useRocks) {
      spark.conf.set(provConf, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      spark.conf.set(chgConf, "true")
    }
    try {
      val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      if (useRocks) Seq(provConf -> prevProv, chgConf -> prevChg).foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    df.sparkSession.table(name)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q16's streaming twin: tumbling event-time window + watermark over
    // the streamed events table; same oracle as the batch query.
    "streaming_window" -> { (s, dir) =>
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), d(sum(dec(col("value")))).as("v"))
      runToTable(agg, "complete")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("v"))
        .orderBy(col("hour"), col("event_type"))
    },
    // Streaming sessionization: per-user session windows with a
    // 30-minute inactivity gap — the state-merging window kind (an
    // event extends, and can BRIDGE, existing sessions). The oracle
    // re-derives sessions relationally (lag-gap breaks + running sum);
    // session_window.end = last event + gap matches by construction.
    "streaming_session" -> { (s, dir) =>
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), d(sum(dec(col("value")))).as("v"))
      runToTable(agg, "complete")
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start"),
          unix_micros(col("session_window.end")).as("session_end"),
          col("n"), col("v"))
        .orderBy(col("user_id"), col("session_start"))
    },
    // Stream-stream interval join (click→purchase attribution):
    // two watermarked streams over the same source, inner-joined on
    // user with an event-time range — the state-bounded join kind
    // (both sides buffer only inside the watermark + interval bound,
    // so state is O(rate × window), not O(stream))
    "streaming_join" -> { (s, dir) =>
      // ONE file-stream source self-joined (clicks side vs purchases
      // side) — two separate readStream sources would double the
      // source bookkeeping and the scan
      val stream = eventsStream(s, dir)
      val clicks = stream
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = stream
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("interval 10 minutes"))
      runToTable(joined, "append")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    },
    // Stream-stream LEFT OUTER interval join (clicks with no purchase
    // within 10 min): the harder state-eviction kind — matched pairs
    // emit immediately, but a null-extended row only emits when the
    // watermark proves the click can never match. Outer emission is
    // watermark-driven, so the stream carries one far-future sentinel
    // row per side: the final watermark then passes every real event
    // and ALL unmatched clicks emit their null rows — making the entry
    // equal to the batch LEFT JOIN oracle instead of a tail-truncated
    // prefix of it.
    "streaming_join_outer" -> { (s, dir) =>
      val stream = eventsStreamWithSentinels(s, dir,
        Seq(-1L -> "click", -2L -> "purchase"))
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("interval 10 minutes"),
        "left_outer")
      runToTable(joined, "append")
        .filter(col("user_id") >= 0) // drop the sentinel click
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    },
    // Custom streaming state: the sessionizer re-implemented on
    // flatMapGroupsWithState + EventTimeTimeout instead of the built-in
    // session_window — per-user open sessions live in GroupState,
    // mature (end + gap ≤ watermark) sessions emit in Append mode, and
    // timeouts re-arm at the earliest maturity so state drains on
    // no-data micro-batches. Same oracle as streaming_session: the
    // custom operator must agree with both the built-in and the
    // relational lag-gap derivation. The far-future sentinel row pushes
    // the final watermark past every real session so none is left
    // immature when AvailableNow terminates.
    "streaming_custom_state" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStreamWithSentinels(s, dir, Seq(-1L -> "sentinel"))
        .select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour")
        .as[SessEvent]
      val sessions = stream.groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.EventTimeTimeout())(sessionize _)
      runToTable(sessions.toDF(
          "user_id", "session_start", "session_end", "n", "v"), "append")
        .filter(col("user_id") >= 0) // drop the sentinel user's session
        .orderBy(col("user_id"), col("session_start"))
    },
    // Streaming stateful dedup: every event is duplicated in-stream,
    // then dropDuplicates over (event_id, ts) with a watermark removes
    // the copies; the result must equal the plain per-type counts.
    "streaming_dedup" -> { (s, dir) =>
      val deduped = eventsStream(s, dir)
        .withColumn("copy", explode(array(lit(1), lit(2))))
        .drop("copy")
        .withWatermark("ts", "1 hour")
        .dropDuplicates(Seq("event_id", "ts"))
      runToTable(deduped, "append")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }
  )

  val oracle: Map[String, String] = Map(
    "streaming_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS v
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "streaming_dedup" ->
      """SELECT event_type, COUNT(*) AS n FROM events
         GROUP BY event_type ORDER BY event_type""",
    "streaming_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_type = 'click' AND b.event_type = 'purchase'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
         ORDER BY click_id, purchase_id""",
    "streaming_join_outer" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id
         FROM events a LEFT JOIN events b
           ON a.user_id = b.user_id
          AND b.event_type = 'purchase'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
         WHERE a.event_type = 'click'
         ORDER BY click_id, purchase_id""",
    "streaming_custom_state" ->
      """WITH brk AS (
           SELECT user_id, ts, value,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS b
           FROM events),
         sess AS (
           SELECT user_id, ts, value,
                  SUM(b) OVER (PARTITION BY user_id ORDER BY ts) AS sid
           FROM brk)
         SELECT user_id, epoch_us(MIN(ts)) AS session_start,
                epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS v
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "streaming_session" ->
      """WITH brk AS (
           SELECT user_id, ts, value,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS b
           FROM events),
         sess AS (
           SELECT user_id, ts, value,
                  SUM(b) OVER (PARTITION BY user_id ORDER BY ts) AS sid
           FROM brk)
         SELECT user_id, epoch_us(MIN(ts)) AS session_start,
                epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS v
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""
  )
}
