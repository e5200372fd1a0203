package servicebench

import java.nio.file.Path
import java.util.BitSet

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.rdf.RdfParse
import graft.sparql.{Sparql, SparqlService}

final case class Params(workload: String, seed: Long, seconds: Int, trace: Boolean,
    smoke: Boolean, cpus: Int, work: Path, rate: Double, patchShare: Double)

/** Events as the generator made them, with the model's count after each. */
final class Feed(val universe: Universe) {
  val payloads = ArrayBuffer[Array[Byte]]()
  val contentTypes = ArrayBuffer[String]()
  val quadsIn = ArrayBuffer[Int]()
  val countAfter = ArrayBuffer[Long]()
  val facts = new BitSet()

  def add(payload: Array[Byte], ct: String, adds: Seq[Long], deletes: Seq[Long]): Unit = {
    adds.foreach(f => facts.set(f.toInt))
    deletes.foreach(f => facts.clear(f.toInt))
    payloads += payload; contentTypes += ct; quadsIn += adds.size
    countAfter += facts.cardinality().toLong
  }
  def size: Int = payloads.size
  def bytes: Long = payloads.iterator.map(_.length.toLong).sum
  def quads: Long = quadsIn.iterator.map(_.toLong).sum
  def total: Long = if (countAfter.isEmpty) 0L else countAfter.last

  /** A backlog of N-Quads events of U(1, maxQuads) quads each, over
    * the fact stream, until `targetBytes` (or the stream) runs out.
    */
  def backlog(rng: java.util.Random, maxQuads: Int, targetBytes: Long): Feed = {
    val it = universe.stream.buffered
    var bytes = 0L
    while (it.hasNext && bytes < targetBytes) {
      val n = 1 + rng.nextInt(maxQuads)
      val facts = ArrayBuffer[Long]()
      while (facts.size < n && it.hasNext) facts += it.next()
      val p = universe.nquads(facts.toSeq)
      add(p, RdfParse.CT_NQUADS, facts.toSeq, Nil)
      bytes += p.length
    }
    this
  }
}

/** A closed timed part: wall seconds, the Spark listener's window and
  * the seconds spent in trace bookkeeping inside it.
  */
final case class Window(wallS: Double, sparkS: Double, traceOverheadS: Double)

/** A set-up cycle's service, topic and counts; `startNs` is its boot
  * and `fillMs` the time the topic took to fill.
  */
final case class Preloaded(svc: Service, topic: BenchTopic, polls: Polls, startNs: Long,
    fillMs: Double)

/** What a poller saw: per poll its end time, count and latency. */
final class Polls {
  val endNs = ArrayBuffer[Long]()
  val counts = ArrayBuffer[Long]()
  val ms = ArrayBuffer[Double]()
  def size: Int = endNs.size
}

abstract class Workload(val spark: SparkSession, val p: Params, val report: Report) {
  val SetupCycles = 3
  val spans = new Spans(p.trace)
  val probe: Option[SparkProbe] =
    if (p.trace) {
      val pr = new SparkProbe(spans)
      spark.sparkContext.addSparkListener(pr)
      Some(pr)
    } else None
  val heap = new HeapWatch
  private var dirs = 0
  /** Latest service set-up times, one per cycle (s). */
  val setupCycles = ArrayBuffer[Double]()
  /** Untimed set-up work done once after the cycles (s). */
  var warmupS = 0.0

  def run(): Unit

  protected def boot(topic: BenchTopic): Service = {
    dirs += 1
    Service.boot(spark, topic, p.work.resolve(s"svc$dirs"), spans, p.trace)
  }

  protected def rng(salt: Long) = new java.util.Random(p.seed * 1000003L + salt)

  protected def e2e(name: String, v: Double, unit: String, n: Int): Unit =
    report.endToEnd(name) = Figure(v, unit, n)
  protected def own(name: String, v: Double, unit: String, n: Int): Unit =
    report.own(name) = Figure(v, unit, n)
  protected def layer(name: String, v: Double, unit: String, n: Int = 1): Unit =
    report.perLayer(name) = Figure(v, unit, n)
  protected def samples(name: String, xs: Iterable[Double]): Unit =
    report.samples(name) = xs.toSeq

  protected def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The timed part: heap, Spark listener and trace overhead. */
  protected def openWindow(): Unit = {
    heap.start()
    probe.foreach(_.open())
    spans.overheadNs.set(0L)
  }

  protected def closeWindow(t0: Long): Window = {
    val wall = since(t0)
    val overhead = spans.overheadNs.get() / 1e9
    val sparkS = probe.map(_.close()).getOrElse(wall)
    own("peak_heap_mb", heap.stop(), "MB", 1)
    Window(wall, sparkS, overhead)
  }

  /** One set-up cycle: boot a service over a topic holding `feed` and
    * wait until an HTTP count shows all of it (the cycle's time, kept
    * when `cycle`). The caller stops the service or keeps it.
    */
  protected def preload(feed: Feed, name: String, cycle: Boolean = true): Preloaded = {
    val topic = new BenchTopic(name)
    val late = fill(topic, feed)
    val t0 = System.nanoTime()
    val svc = boot(topic)
    val polls = pollCounts(new SparqlClient(svc.port, spans), feed, () => true,
      t0 + 150000000000L, afterCommit = Some(svc))
    if (cycle) setupCycles += since(t0)
    checkConnector(svc, feed.size)
    Preloaded(svc, topic, polls, t0, late)
  }

  protected def fill(topic: BenchTopic, feed: Feed): Double = {
    val t0 = System.nanoTime()
    feed.payloads.indices.foreach(i => topic.append(feed.payloads(i), feed.contentTypes(i)))
    since(t0) * 1e3
  }

  /** Count polling until the count shows every event after `ready()`
    * holds, or the deadline passes. Closed loop by default; with
    * `afterCommit`, each count is sent as soon as that service's
    * connector reports a commit (`processed()`), so it is the first
    * count that can show the commit. Every answer must be the model's
    * count after some prefix of the events, and never less than the
    * count after the commits already reported.
    */
  protected def pollCounts(client: SparqlClient, feed: Feed, ready: () => Boolean,
      deadlineNs: Long, afterCommit: Option[Service] = None): Polls = {
    val allowed = (0L +: feed.countAfter.toSeq).toSet
    val polls = new Polls
    var last = -1L
    var req = 0L
    var seen = 0L
    def committed: Long = afterCommit.flatMap(s => Option(s.source)).map(_.stats.committedOffset)
      .getOrElse(0L)
    while (!(last == feed.total && ready()) && System.nanoTime() < deadlineNs) {
      if (afterCommit.isDefined) {
        while (committed == seen && System.nanoTime() < deadlineNs) Thread.sleep(1)
        seen = committed
      }
      val floor = if (seen > 0) feed.countAfter((seen - 1).toInt) else 0L
      req += 1
      val r = client.query("count", Shapes.CountQuery, req)
      val n = if (r.status != 200) -1L
        else scala.util.Try(Answer.number(Answer.parseJson(r.body).rows(0)("c")).toLong)
          .getOrElse(-1L)
      val err =
        if (r.status != 200) Some(s"count poll: HTTP ${r.status}")
        else if (!allowed.contains(n)) Some(s"count poll: $n is no prefix of the events")
        else if (n < last) Some(s"count poll: went back from $last to $n")
        else if (n < floor) Some(s"count poll: $n after a commit of $seen events ($floor)")
        else None
      report.check(err)
      if (err.isEmpty) {
        polls.endNs += r.endNs; polls.counts += n; polls.ms += r.ms
        last = n
      }
    }
    polls
  }

  /** Per event, ms from its append to the first poll that shows it;
    * events never shown are failures.
    */
  protected def freshness(topic: BenchTopic, feed: Feed, polls: Polls): Seq[Double] = {
    var j = 0
    val out = ArrayBuffer[Double]()
    feed.countAfter.indices.foreach { k =>
      while (j < polls.size && polls.counts(j) < feed.countAfter(k)) j += 1
      val err = if (j < polls.size) None else Some(s"event $k never became visible")
      if (report.check(err))
        out += (polls.endNs(j) - topic.appendedAt(k)) / 1e6
    }
    out.toSeq
  }

  /** Offsets and DLQ after the last commit: the state file must hold
    * the event count, and nothing may have gone to the DLQ.
    */
  protected def checkConnector(svc: Service, events: Long): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (svc.savedOffset != Some(events) && System.nanoTime() < deadline) Thread.sleep(20)
    report.check(
      if (svc.savedOffset == Some(events)) None
      else Some(s"offset state ${svc.savedOffset}, expected $events"))
    svc match {
      case t: TracedService =>
        report.check(if (t.dlq.events.isEmpty) None
          else Some(s"${t.dlq.events.size} events went to the DLQ"))
      case _ => ()
    }
  }

  /** Run `shape` once over HTTP and check the answer. */
  protected def httpShape(client: SparqlClient, shape: Shape, req: Long): Option[Double] = {
    val r = client.query(shape.name, shape.query, req)
    val err =
      if (r.status != 200) Some(s"${shape.name}: HTTP ${r.status}")
      else scala.util.Try(shape.check(Answer.parseJson(r.body)))
        .fold(t => Some(s"${shape.name}: unreadable answer: $t"), identity)
    if (report.check(err)) Some(r.ms) else None
  }

  /** Run `shape` by direct calls: compile (`Sparql.execute` and the
    * executed plan) and exec (collect). Returns (compile ms, exec ms).
    */
  protected def directShape(svc: Service, shape: Shape, req: Long): Option[(Double, Double)] =
    spans(s"direct.${shape.name}", req) {
      val t0 = System.nanoTime()
      val df = spans("direct.compile") {
        val quads = Sparql.datasetOf(svc.store.quads(), Nil, Nil)
        val d = Sparql.execute(quads, shape.query,
          Sparql.EvalContext(service = SparqlService.Disabled))
        d.queryExecution.executedPlan
        d
      }
      val t1 = System.nanoTime()
      val rows = spans("direct.exec")(df.collect())
      val t2 = System.nanoTime()
      val err = scala.util.Try(shape.check(Answer.fromRows(df.columns.toSeq, rows)))
        .fold(t => Some(s"${shape.name} (direct): unreadable answer: $t"), identity)
      if (report.check(err)) Some(((t1 - t0) / 1e6, (t2 - t1) / 1e6)) else None
    }

  /** Per-layer figures every traced run reports. `httpMs` are the HTTP
    * latencies per shape the run saw, `directMs` the direct twins'.
    */
  protected def traceLayers(svc: Service, feed: Feed, window: Window,
      countPollMs: Seq[Double], httpMs: Map[String, Seq[Double]],
      directMs: Map[String, Seq[(Double, Double)]], genLateMs: Double): Unit = {
    val st = svc.source.stats
    val commits = st.commitNanos.size
    layer("connect.commits", commits, "count")
    layer("connect.events_per_commit_p50", Stats.median(st.eventsPerCommit.map(_.toDouble)),
      "count", commits)
    val marks = st.firstDelivery +: st.commitNanos.toSeq
    val gaps = marks.zip(marks.drop(1)).map { case (a, b) => (b - a) / 1e6 }
    layer("connect.commit_gap_p50_ms", Stats.median(gaps), "ms", gaps.size)
    layer("connect.commit_gap_p95_ms", Stats.quantile(gaps, 0.95), "ms", gaps.size)
    layer("connect.backlog_max", st.backlogMax.toDouble, "count")

    val decode = spans("rdf.decode") {
      val t0 = System.nanoTime()
      feed.payloads.indices.foreach { i =>
        val d = RdfParse.decode(feed.payloads(i), feed.contentTypes(i), s"bench:0:$i")
        report.check(Option(d._corrupt).map(c => s"decode of event $i: $c"))
      }
      since(t0)
    }
    layer("rdf.decode_s", decode, "s", feed.size)
    layer("rdf.decode_mb_per_s", feed.bytes / 1e6 / decode, "MB/s", feed.size)

    val applies = svc match {
      case t: TracedService => t.sink.applyNanos.synchronized(t.sink.applyNanos.toSeq.map(_ / 1e6))
      case _ => Nil
    }
    layer("store.apply_p50_ms", Stats.median(applies), "ms", applies.size)
    layer("store.apply_p95_ms", Stats.quantile(applies, 0.95), "ms", applies.size)
    layer("store.apply_s", applies.sum / 1e3, "s", applies.size)
    layer("store.segments_end", svc.store.committedSegments().size, "count")
    layer("store.bytes_on_disk", Stats.bytesUnder(svc.storeDir) / 1e6, "MB")
    val quadsCalls = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); spans("store.quads")(svc.store.quads()); since(t0) * 1e3
    }
    layer("store.quads_call_ms", Stats.median(quadsCalls), "ms", quadsCalls.size)
    val counts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = spans("store.count")(svc.store.count())
      report.check(if (n == feed.total) None else Some(s"store count $n, expected ${feed.total}"))
      since(t0) * 1e3
    }
    layer("store.count_ms", Stats.median(counts), "ms", counts.size)

    Shapes.Names.foreach { s =>
      val d = directMs.getOrElse(s, Nil)
      val h = httpMs.getOrElse(s, Nil)
      layer(s"sparql.$s.compile_ms", Stats.median(d.map(_._1)), "ms", d.size)
      layer(s"sparql.$s.exec_ms", Stats.median(d.map(_._2)), "ms", d.size)
      layer(s"server.$s.overhead_ms",
        Stats.median(h) - Stats.median(d.map(x => x._1 + x._2)), "ms", math.min(h.size, d.size))
    }
    layer("server.count_p50_ms", Stats.median(countPollMs), "ms", countPollMs.size)

    probe.foreach { pr =>
      pr.synchronized {
        layer("spark.jobs", pr.jobs.toDouble, "count")
        layer("spark.stages", pr.stages.toDouble, "count")
        layer("spark.tasks", pr.tasks.toDouble, "count")
        layer("spark.driver_only_s", pr.driverOnlyS(window.sparkS), "s")
        layer("spark.task_s", pr.runMs / 1e3, "s")
        layer("spark.cpu_s", pr.cpuNs / 1e9, "s")
        layer("spark.gc_s", pr.gcMs / 1e3, "s")
        layer("spark.shuffle_read_mb", pr.shuffleRead / 1e6, "MB")
        layer("spark.shuffle_write_mb", pr.shuffleWrite / 1e6, "MB")
        own("spark.spill_mb", pr.spill / 1e6, "MB", 1)
        layer("spark.input_mb", pr.input / 1e6, "MB")
        layer("spark.output_mb", pr.output / 1e6, "MB")
      }
    }
    layer("bench.gen_late_max_ms", genLateMs, "ms")
    layer("bench.trace_overhead_ratio", window.traceOverheadS / window.wallS, "ratio")
  }

  /** Traced runs of the ingest workloads end with a probe of the seven
    * shapes over the final store: `rounds` over HTTP, then as many by
    * direct calls, after one untimed warm-up round.
    */
  protected def shapeProbe(svc: Service, client: SparqlClient, shapes: Shapes,
      rounds: Int): (Map[String, Seq[Double]], Map[String, Seq[(Double, Double)]]) = {
    shapes.all.foreach(s => httpShape(client, s, 0L))
    val http = ArrayBuffer[(String, Double)]()
    val direct = ArrayBuffer[(String, (Double, Double))]()
    var req = 1L
    for (_ <- 1 to rounds; s <- shapes.all) {
      httpShape(client, s, req).foreach(ms => http += s.name -> ms); req += 1
    }
    for (_ <- 1 to rounds; s <- shapes.all) {
      directShape(svc, s, req).foreach(d => direct += s.name -> d); req += 1
    }
    (http.groupMap(_._1)(_._2).view.mapValues(_.toSeq).toMap,
      direct.groupMap(_._1)(_._2).view.mapValues(_.toSeq).toMap)
  }

  /** End-to-end ingest figures: medians over the ingest units of the
    * run (replays or preloads) of each unit's rate and freshness
    * quantiles. The rate is the workload's own figure: a live run's is
    * the offered rate, and a replay's moves with its freshness.
    */
  protected def ingestFigures(quadsPerS: Seq[Double], freshByUnit: Seq[Seq[Double]],
      storeBytesPerInput: Double): Unit = {
    val p50 = freshByUnit.map(Stats.median)
    val p95 = freshByUnit.map(Stats.quantile(_, 0.95))
    own("ingest_quads_per_s", Stats.median(quadsPerS), "quads/s", quadsPerS.size)
    e2e("fresh_p50_ms", Stats.median(p50), "ms", freshByUnit.map(_.size).sum)
    e2e("fresh_p95_ms", Stats.median(p95), "ms", freshByUnit.map(_.size).sum)
    e2e("store_bytes_per_input_byte", storeBytesPerInput, "ratio", freshByUnit.size)
  }

  /** Latency quantiles over the timed part's HTTP queries, and how
    * many it answered per second (not gated: on the ingest workloads
    * the benchmark's own pacing sets it).
    */
  protected def queryFigures(ms: Seq[Double], wallS: Double): Unit = {
    e2e("query_p50_ms", Stats.median(ms), "ms", ms.size)
    e2e("query_p90_ms", Stats.quantile(ms, 0.9), "ms", ms.size)
    own("query_per_s", ms.size / wallS, "1/s", ms.size)
  }
}

/** A pre-filled topic replayed from offset 0: decode, adaptive batching
  * and the segment write at volume, ending when an HTTP count shows
  * every quad.
  */
final class ReplayBacklog(spark: SparkSession, p: Params, report: Report)
    extends Workload(spark, p, report) {
  val targetBytes: Long = if (p.smoke) 200000L else 40000000L
  val maxQuads: Int = if (p.smoke) 50 else 1000
  val FinalCounts = 3

  def run(): Unit = {
    val feed = new Feed(new Universe((targetBytes / 150).toInt + 100, p.seed))
      .backlog(rng(1), maxQuads, targetBytes)
    own("replay_events", feed.size, "count", 1)
    own("replay_quads", feed.quads.toDouble, "count", 1)
    own("replay_payload_mb", feed.bytes / 1e6, "MB", 1)

    // set-up: boot a service and replay a small backlog through it,
    // several times, so the timed replay runs on warm code
    val warm = new Feed(new Universe(2000, p.seed + 17)).backlog(rng(4), 100, 40000L)
    (1 to SetupCycles).foreach(c => preload(warm, s"setup$c").svc.stop())
    // warm-up, untimed: one full replay, so the bulk route runs warm too
    val w0 = System.nanoTime()
    preload(feed, "warmup", cycle = false).svc.stop()
    warmupS = since(w0)

    val rates = ArrayBuffer[Double]()
    val fresh = ArrayBuffer[Seq[Double]]()
    val pollMs = ArrayBuffer[Double]()
    val finalMs = ArrayBuffer[Double]()
    var bytesRatio = 0.0
    var lastSvc: Service = null
    var genLate = 0.0
    openWindow()
    val t0 = System.nanoTime()
    var replays = 0
    while (replays == 0 || since(t0) < p.seconds) {
      replays += 1
      val topic = new BenchTopic(s"replay$replays")
      genLate = math.max(genLate, fill(topic, feed))
      val start = System.nanoTime()
      val svc = boot(topic)
      val client = new SparqlClient(svc.port, spans)
      val polls = pollCounts(client, feed, () => true, start + 150000000000L,
        afterCommit = Some(svc))
      val visible = if (polls.size > 0 && polls.counts.last == feed.total) polls.endNs.last else -1L
      if (visible > 0) rates += feed.quads / ((visible - start) / 1e9)
      fresh += freshness(topic, feed, polls)
      pollMs ++= polls.ms
      checkConnector(svc, feed.size)
      bytesRatio = Stats.bytesUnder(svc.storeDir).toDouble / feed.bytes
      if (lastSvc != null) lastSvc.stop()
      lastSvc = svc
    }
    // the query work of a replay: counts over the complete store
    val client = new SparqlClient(lastSvc.port, spans)
    (1 to FinalCounts).foreach { i =>
      val r = client.query("count", Shapes.CountQuery, -i.toLong)
      val err = if (r.status != 200) Some(s"final count: HTTP ${r.status}")
        else scala.util.Try(Answer.number(Answer.parseJson(r.body).rows(0)("c")).toLong)
          .fold(t => Some(s"final count unreadable: $t"),
            n => if (n == feed.total) None else Some(s"final count $n, expected ${feed.total}"))
      if (report.check(err)) finalMs += r.ms
    }
    val window = closeWindow(t0)
    val wall = window.wallS
    own("replays", replays, "count", 1)
    own("commits", lastSvc.source.stats.commitNanos.size, "count", 1)
    ingestFigures(rates.toSeq, fresh.toSeq, bytesRatio)
    queryFigures((pollMs ++ finalMs).toSeq, wall)
    samples("fresh_ms", fresh.flatten)
    samples("count_poll_ms", pollMs)
    samples("final_count_ms", finalMs)

    if (p.trace) {
      val shapes = new Shapes(feed.universe, feed.facts)
      val (http, direct) = shapeProbe(lastSvc, client, shapes, 1)
      traceLayers(lastSvc, feed, window, pollMs.toSeq, http, direct, genLate)
    }
    lastSvc.stop()
  }
}

/** An open loop at a fixed rate: 10-quad N-Quads events with a share of
  * RDF Patch transactions that add 10 quads and delete 5 of the
  * previous event's. A single closed-loop client polls the count; an
  * event is fresh when a poll first shows it.
  */
final class LiveFreshness(spark: SparkSession, p: Params, report: Report)
    extends Workload(spark, p, report) {
  val events: Int = math.max(10, (p.rate * p.seconds).round.toInt)

  private def makeFeed(events: Int, seed: Long): Feed = {
    val feed = new Feed(new Universe(events * 2 + 3, seed))
    val it = feed.universe.stream
    val r = new java.util.Random(seed * 1000003L + 2)
    var prev: Seq[Long] = Nil
    (0 until events).foreach { k =>
      val adds = it.take(10).toSeq
      if (k > 0 && r.nextDouble() < p.patchShare) {
        val deletes = r.ints(0, prev.size).distinct().limit(5).toArray.toSeq.map(prev(_))
        feed.add(feed.universe.patch(adds, deletes), RdfParse.CT_PATCH, adds, deletes)
      } else feed.add(feed.universe.nquads(adds), RdfParse.CT_NQUADS, adds, Nil)
      prev = adds
    }
    feed
  }

  def run(): Unit = {
    val feed = makeFeed(events, p.seed)
    own("live_events", feed.size, "count", 1)
    own("live_rate_per_s", p.rate, "1/s", 1)
    own("live_patch_events", feed.contentTypes.count(_ == RdfParse.CT_PATCH), "count", 1)

    // set-up: boot a service and ingest a small mixed backlog through
    // it, several times, so the timed part runs on warm code
    val warm = makeFeed(12, p.seed + 17)
    (1 to SetupCycles).foreach(c => preload(warm, s"setup$c").svc.stop())
    val topic = new BenchTopic("live")
    val b0 = System.nanoTime()
    val svc = boot(topic)
    own("live_boot_s", since(b0), "s", 1)
    val client = new SparqlClient(svc.port, spans)

    @volatile var generated = false
    val late = ArrayBuffer[Double]()
    openWindow()
    val t0 = System.nanoTime()
    val gen = new Thread(() => {
      val periodNs = (1e9 / p.rate).toLong
      feed.payloads.indices.foreach { k =>
        val due = t0 + k * periodNs
        var wait = due - System.nanoTime()
        while (wait > 0) {
          Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          wait = due - System.nanoTime()
        }
        topic.append(feed.payloads(k), feed.contentTypes(k))
        late += (System.nanoTime() - due) / 1e6
      }
      generated = true
    }, "servicebench-generator")
    gen.setDaemon(true)
    gen.start()
    val lastDue = t0 + (events - 1) * (1e9 / p.rate).toLong
    val polls = pollCounts(client, feed, () => generated, lastDue + 120000000000L)
    gen.join()
    val visible = if (polls.size > 0 && polls.counts.last == feed.total) polls.endNs.last else -1L
    val window = closeWindow(t0)
    val wall = window.wallS

    val fresh = freshness(topic, feed, polls)
    checkConnector(svc, feed.size)
    // the offered rate sets this rate, so it is not gated
    val rate = if (visible > 0) feed.quads / ((visible - t0) / 1e9) else 0.0
    ingestFigures(Seq(rate), Seq(fresh), Stats.bytesUnder(svc.storeDir).toDouble / feed.bytes)
    queryFigures(polls.ms.toSeq, wall)
    samples("fresh_ms", fresh)
    samples("count_poll_ms", polls.ms)
    samples("count_poll_end_s", polls.endNs.map(e => (e - t0) / 1e9))
    own("fresh_late_ratio", (fresh.count(_ > 15000) + (feed.size - fresh.size)).toDouble / feed.size,
      "ratio", feed.size)
    own("fresh_max_ms", if (fresh.isEmpty) 0.0 else fresh.max, "ms", fresh.size)
    own("commits", svc.source.stats.commitNanos.size, "count", 1)
    own("backlog_max", svc.source.stats.backlogMax.toDouble, "count", 1)
    own("gen_late_max_ms", if (late.isEmpty) 0.0 else late.max, "ms", late.size)
    // a growing backlog shows as freshness rising across the run
    val quarter = math.max(1, fresh.size / 4)
    own("fresh_first_quarter_p50_ms", Stats.median(fresh.take(quarter)), "ms", quarter)
    own("fresh_last_quarter_p50_ms", Stats.median(fresh.takeRight(quarter)), "ms", quarter)

    if (p.trace) {
      // the final store against the model, shape by shape
      val (http, direct) = shapeProbe(svc, client, new Shapes(feed.universe, feed.facts), 2)
      traceLayers(svc, feed, window, polls.ms.toSeq, http, direct,
        if (late.isEmpty) 0.0 else late.max)
    }
    svc.stop()
  }
}

/** A preloaded graph queried by two closed-loop HTTP clients running a
  * fixed round-robin over the seven shapes; no ingest while timed.
  */
final class QueryMix(spark: SparkSession, p: Params, report: Report)
    extends Workload(spark, p, report) {
  val entities: Int = if (p.smoke) 400 else 50000
  val maxQuads: Int = if (p.smoke) 50 else 1000
  val Clients = 2

  def run(): Unit = {
    val feed = new Feed(new Universe(entities, p.seed)).backlog(rng(3), maxQuads, Long.MaxValue)
    own("preload_quads", feed.quads.toDouble, "count", 1)
    own("preload_events", feed.size, "count", 1)
    val shapes = new Shapes(feed.universe, feed.facts)

    // set-up: preload through the connector until an HTTP count shows
    // every quad, several times; the last service stays up
    def order(c: Int) = shapes.all.drop(c * 3) ++ shapes.all.take(c * 3)
    def inClients(body: Int => Unit): Unit = {
      val threads = (0 until Clients).map { c =>
        val t = new Thread(() => body(c), s"servicebench-client$c")
        t.start(); t
      }
      threads.foreach(_.join())
    }

    // warm-up, untimed: preload a small graph and run every shape on it
    // from both clients, so the timed part runs on warm code
    val w0 = System.nanoTime()
    val small = new Feed(new Universe(400, p.seed + 17)).backlog(rng(4), 50, Long.MaxValue)
    val ws = preload(small, "warmup", cycle = false).svc
    val smallShapes = new Shapes(small.universe, small.facts)
    inClients { c =>
      val client = new SparqlClient(ws.port, spans)
      (smallShapes.all.drop(c * 3) ++ smallShapes.all.take(c * 3)).foreach(httpShape(client, _, 0L))
    }
    ws.stop()
    warmupS = since(w0)

    // set-up: preload through the connector until an HTTP count shows
    // every quad, several times; the last service stays up
    val rates = ArrayBuffer[Double]()
    val fresh = ArrayBuffer[Seq[Double]]()
    var svc: Service = null
    var genLate = 0.0
    (1 to SetupCycles).foreach { c =>
      val l = preload(feed, s"preload$c")
      genLate = l.fillMs
      if (l.polls.size > 0 && l.polls.counts.last == feed.total)
        rates += feed.quads / ((l.polls.endNs.last - l.startNs) / 1e9)
      fresh += freshness(l.topic, feed, l.polls)
      if (c == SetupCycles) svc = l.svc else l.svc.stop()
    }
    ingestFigures(rates.toSeq, fresh.toSeq, Stats.bytesUnder(svc.storeDir).toDouble / feed.bytes)
    val clients = Array.fill(Clients)(new SparqlClient(svc.port, spans))

    // timed: whole rounds per client until the window has passed
    val results = Array.fill(Clients)(ArrayBuffer[(String, Double)]())
    val rounds = Array.fill(Clients)(0)
    openWindow()
    val t0 = System.nanoTime()
    inClients { c =>
      var req = c * 1000000L
      while (rounds(c) == 0 || since(t0) < p.seconds) {
        order(c).foreach { s =>
          req += 1
          httpShape(clients(c), s, req).foreach(ms => results(c) += s.name -> ms)
        }
        rounds(c) += 1
      }
    }
    val window = closeWindow(t0)
    val wall = window.wallS

    val all = results.flatMap(_.toSeq).toSeq
    queryFigures(all.map(_._2), wall)
    val byShape = all.groupMap(_._1)(_._2)
    Shapes.Names.foreach { s =>
      val xs = byShape.getOrElse(s, Nil)
      own(s"query_${s}_p50_ms", Stats.median(xs), "ms", xs.size)
      samples(s"query_ms.$s", xs)
    }
    own("rounds", rounds.sum, "count", 1)

    if (p.trace) {
      // direct twins under the same two-client round-robin
      val direct = Array.fill(Clients)(ArrayBuffer[(String, (Double, Double))]())
      val n = math.min(rounds.min, 3)
      inClients { c =>
        var req = 2000000L + c * 1000000L
        for (_ <- 1 to n; s <- order(c)) {
          req += 1
          directShape(svc, s, req).foreach(d => direct(c) += s.name -> d)
        }
      }
      traceLayers(svc, feed, window, byShape.getOrElse("count", Nil), byShape,
        direct.flatMap(_.toSeq).toSeq.groupMap(_._1)(_._2), genLate)
    }
    svc.stop()
  }
}
