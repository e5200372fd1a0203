package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.connect.{Event, MaterialisedEvent, OffsetStore, QuadStoreSink}
import graft.rdf.{NQuadsParser, Quad, RdfParse, Term}
import org.apache.spark.sql.functions.col
import graft.store.{AggView, QuadStore}

/** QuadStore scale/robustness behavior added in round 2, plus the
  * offset-key and blank-node-label fixes.
  */
class StoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def q(s: String, o: String): Quad =
    Quad(null, Term.iri(s"http://x/$s"), Term.iri("http://x/p"), Term.lit(o))

  private def newStore() =
    new QuadStore(spark, Files.createTempDirectory("qs").toString)

  test("merge-on-read: delete and re-add across a compaction boundary") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1"), q("b", "1"), q("c", "1")))
    store.compact()
    // tail: delete b, re-add with new value, add d
    import spark.implicits._
    val ops = Seq(
      QuadStore.OpRow("D", 0L, null, Term.iri("http://x/b"), Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("A", 1L, null, Term.iri("http://x/b"), Term.iri("http://x/p"), Term.lit("2")),
      QuadStore.OpRow("D", 2L, null, Term.iri("http://x/c"), Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("A", 3L, null, Term.iri("http://x/d"), Term.iri("http://x/p"), Term.lit("1")))
    store.commitOps(1, ops.toDF())
    val state = store.quads().collect()
      .map(r => (r.getStruct(1).getString(1), r.getStruct(3).getString(1))).toSet
    assert(state == Set(("http://x/a", "1"), ("http://x/b", "2"), ("http://x/d", "1")))
  }

  test("adds-only segments are marked -a; delete-bearing ones are not") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1"), q("b", "1")))
    import spark.implicits._
    store.commitOps(1, Seq(
      QuadStore.OpRow("D", 0L, null, Term.iri("http://x/a"),
        Term.iri("http://x/p"), Term.lit("1"))).toDF())
    val segs = store.committedSegments()
    assert(segs.head.endsWith("-a"), s"adds-only segment unmarked: $segs")
    assert(!segs(1).endsWith("-a"), s"delete-bearing segment marked: $segs")
    // state is unaffected by the marker; a replay that INTRODUCES a
    // delete re-detects its own status (marker dropped)
    store.commitOps(0, Seq(
      QuadStore.OpRow("A", 0L, null, Term.iri("http://x/c"),
        Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("D", 1L, null, Term.iri("http://x/c"),
        Term.iri("http://x/p"), Term.lit("1"))).toDF())
    val replayed = store.committedSegments().head
    assert(replayed.contains("-g1") && !replayed.endsWith("-a"), replayed)
    // the replay REPLACED epoch 0 (c added then deleted), and epoch 1
    // still deletes a — nothing survives
    val state = store.quads().collect()
      .map(r => (r.getStruct(1).getString(1), r.getStruct(3).getString(1))).toSet
    assert(state == Set.empty)
    assert(store.count() == 0L)
  }

  test("adds-only fast path: quads/changes/count agree with the folded answers") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1"), q("b", "1")))
    store.addQuads(1, Seq(q("b", "1"), q("c", "1"))) // duplicate across epochs
    assert(store.committedSegments().forall(_.endsWith("-a")))
    val state = store.quads().collect()
      .map(r => (r.getStruct(1).getString(1), r.getStruct(3).getString(1))).toSet
    assert(state == Set(("http://x/a", "1"), ("http://x/b", "1"), ("http://x/c", "1")))
    assert(store.count() == 3L)
    val feed = store.changes(0, 1).collect()
      .map(r => (r.getString(0), r.getStruct(2).getString(1))).toSet
    assert(feed == Set(("A", "http://x/b"), ("A", "http://x/c")))
    // adds-only tail over a compacted base
    store.compact()
    store.addQuads(2, Seq(q("a", "1"), q("d", "1")))
    assert(store.count() == 4L)
    assert(store.quads().count() == 4L)
  }

  test("count() stays exact when the term-id hash collides (fallback)") {
    val store = newStore()
    import spark.implicits._
    // two DISTINCT terms that any constant hash maps together, plus a
    // delete so the guarded term-id fold path (not the adds-only
    // distinct) is exercised
    store.commitOps(0, Seq(
      QuadStore.OpRow("A", 0L, null, Term.iri("http://x/a"),
        Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("A", 1L, null, Term.iri("http://x/b"),
        Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("D", 2L, null, Term.iri("http://x/b"),
        Term.iri("http://x/p"), Term.lit("1"))).toDF())
    // degenerate id: every term gets id 7 — the injectivity check must
    // reject it and fall back to the exact struct fold
    assert(store.countWith(_ => org.apache.spark.sql.functions.lit(7L)) == 1L)
    assert(store.count() == 1L) // the real hash agrees
    // and across a base + delete-bearing tail
    store.compact()
    store.commitOps(1, Seq(
      QuadStore.OpRow("A", 0L, null, Term.iri("http://x/c"),
        Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("D", 1L, null, Term.iri("http://x/a"),
        Term.iri("http://x/p"), Term.lit("1"))).toDF())
    assert(store.countWith(_ => org.apache.spark.sql.functions.lit(7L)) == 1L)
    assert(store.count() == 1L)
  }

  test("quadsAt time-travels to any un-compacted batch; compaction is the floor") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1")))
    store.addQuads(1, Seq(q("b", "1")))
    import spark.implicits._
    store.commitOps(2, Seq(QuadStore.OpRow("D", 0L, null,
      Term.iri("http://x/a"), Term.iri("http://x/p"), Term.lit("1"))).toDF())
    def subjects(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getStruct(1).getString(1)).toSet
    assert(store.availableBatches() == Seq(0L, 1L, 2L))
    assert(subjects(store.quadsAt(0)) == Set("http://x/a"))
    assert(subjects(store.quadsAt(1)) == Set("http://x/a", "http://x/b"))
    assert(subjects(store.quadsAt(2)) == Set("http://x/b"))
    // as-of later than the newest batch is just the current state
    assert(subjects(store.quadsAt(99)) == subjects(store.quads()))
    store.compact()
    // folded history is no longer separable — explicit error, and the
    // high-water state itself still reads (it IS the base)
    intercept[IllegalArgumentException](store.quadsAt(1))
    assert(subjects(store.quadsAt(2)) == Set("http://x/b"))
  }

  test("exportNQuads round-trips: sharded text re-ingests to the identical state") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "plain"), q("b", "esc\"\n\t\\"),
      Quad(Term.iri("http://x/g"), Term.iri("http://x/s"),
        Term.iri("http://x/p"), Term.typed("5", Term.XSD_INTEGER))))
    val out = Files.createTempDirectory("ntexport").toString
    graft.rdf.NtWriter.exportNQuads(store.quads(), out)
    val doc = spark.read.textFile(out).collect().mkString("\n")
    val re = newStore()
    re.addQuads(0, NQuadsParser.parse(doc, allowGraph = true))
    def state(st: QuadStore) = st.quads().collect().map { r =>
      (Option(r.getStruct(0)).map(_.getString(1)).orNull,
        r.getStruct(1).getString(1), r.getStruct(2).getString(1),
        r.getStruct(3).getString(1), r.getStruct(3).getString(2))
    }.toSet
    assert(state(re) == state(store) && re.count() == 3)
  }

  test("changes() folds the net op per quad between two batches") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1")))
    store.addQuads(1, Seq(q("b", "1"), q("c", "1")))
    import spark.implicits._
    store.commitOps(2, Seq(
      QuadStore.OpRow("D", 0L, null, Term.iri("http://x/a"),
        Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("D", 1L, null, Term.iri("http://x/c"),
        Term.iri("http://x/p"), Term.lit("1")),
      QuadStore.OpRow("A", 2L, null, Term.iri("http://x/c"),
        Term.iri("http://x/p"), Term.lit("2"))).toDF())
    def feed(from: Long, to: Long) =
      store.changes(from, to).collect()
        .map(r => (r.getString(0), r.getStruct(2).getString(1),
          r.getStruct(4).getString(1))).toSet
    // (0, 2]: b added; a deleted; c flip-flopped to its net final A
    assert(feed(0, 2) == Set(("A", "http://x/b", "1"),
      ("D", "http://x/a", "1"), ("D", "http://x/c", "1"),
      ("A", "http://x/c", "2")))
    assert(feed(1, 2) == Set(("D", "http://x/a", "1"),
      ("D", "http://x/c", "1"), ("A", "http://x/c", "2")))
    assert(feed(2, 99).isEmpty)
    // the feed applied to the from-state reproduces the to-state
    val applied = feed(0, 2).foldLeft(
      store.quadsAt(0).collect().map(r => (r.getStruct(1).getString(1),
        r.getStruct(3).getString(1))).toSet) {
      case (st, ("A", s, o)) => st + ((s, o))
      case (st, (_, s, o)) => st - ((s, o))
    }
    val want = store.quadsAt(2).collect()
      .map(r => (r.getStruct(1).getString(1), r.getStruct(3).getString(1))).toSet
    assert(applied == want)
    store.compact()
    intercept[IllegalArgumentException](store.changes(0, 2))
  }

  test("replayed epoch at or below the compaction high-water mark is dropped") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1")))
    store.addQuads(1, Seq(q("b", "1")))
    // delete a in batch 2, then compact: state = {b}
    import spark.implicits._
    store.commitOps(2, Seq(QuadStore.OpRow("D", 0L, null,
      Term.iri("http://x/a"), Term.iri("http://x/p"), Term.lit("1"))).toDF())
    store.compact()
    assert(store.highWaterBatchId == 2)
    // replay of old batch 0 (re-adding a) must be a no-op — without the
    // high-water mark it would re-append and resurrect the deleted quad
    store.addQuads(0, Seq(q("a", "1")))
    assert(store.count() == 1)
    // a genuinely new epoch still applies
    store.addQuads(3, Seq(q("e", "1")))
    assert(store.count() == 2)
  }

  test("replayed live epoch overwrites its own segment (idempotent)") {
    val store = newStore()
    store.addQuads(7, Seq(q("a", "1"), q("b", "1")))
    store.addQuads(7, Seq(q("a", "1"), q("b", "1")))
    assert(store.committedSegments().size == 1)
    assert(store.count() == 2)
  }

  test("autoCompactTail folds the tail continuously; replay stays idempotent") {
    val store = new QuadStore(spark,
      Files.createTempDirectory("qsauto").toString, autoCompactTail = 3)
    store.addQuads(0, Seq(q("a", "1")))
    store.addQuads(1, Seq(q("b", "1")))
    assert(store.committedSegments().forall(!_.contains("base")))
    store.addQuads(2, Seq(q("c", "1"))) // third tail segment → fold
    val segs = store.committedSegments()
    assert(segs.size == 1 && segs.head.contains("base"), s"segments: $segs")
    assert(store.count() == 3)
    assert(store.highWaterBatchId == 2)
    // a replay of a folded epoch is dropped by the high-water mark
    store.addQuads(1, Seq(q("b", "1")))
    assert(store.count() == 3)
    // further epochs accumulate as tail until the threshold again
    store.addQuads(3, Seq(q("d", "1")))
    assert(store.committedSegments().count(!_.contains("base")) == 1)
    assert(store.count() == 4)
  }

  test("copy-on-write replay: a plan reading the old segment survives the replayed commit") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1"), q("b", "1")))
    // a LAZY plan over the current state — the shape of a WHERE-driven
    // update op resolved before a replay lands and executed after
    val preReplay = store.quads()
    // replay epoch 0 with different content (crash-recovery rewrite)
    store.addQuads(0, Seq(q("a", "1"), q("c", "1")))
    // the pre-replay plan keeps reading its consistent snapshot: the
    // retired directory is untouched until gc(); an in-place overwrite
    // would have deleted the files under this plan mid-read
    val old = preReplay.collect().map(_.getStruct(1).getString(1)).toSet
    assert(old == Set("http://x/a", "http://x/b"))
    // the store state is the replayed content, at the ORIGINAL log position
    val now = store.quads().collect().map(_.getStruct(1).getString(1)).toSet
    assert(now == Set("http://x/a", "http://x/c"))
    assert(store.committedSegments().size == 1)
    // generation bump recorded; the replay (adds-only) also re-earns
    // its trailing -a marker
    assert(store.committedSegments().head.contains("-g1"))
    // gc removes the retired directory once no plan needs it
    assert(store.gc() >= 1)
    val after = store.quads().collect().map(_.getStruct(1).getString(1)).toSet
    assert(after == Set("http://x/a", "http://x/c"))
  }

  test("compaction writes hash-bucket partitions; recompaction rewrites only touched buckets") {
    val dir = Files.createTempDirectory("qsbuckets")
    val store = new QuadStore(spark, dir.toString, numBuckets = 4)
    store.addQuads(0, (0 until 40).map(i => q(s"s$i", "1")))
    store.compact()
    // base laid out as bucket=k partition directories
    val baseDir = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains("base")).toSeq
    assert(baseDir.size == 1 && baseDir.head.matches("s\\d+-base"), s"base: $baseDir")
    val firstBase = baseDir.head
    val buckets = Files.list(dir.resolve(firstBase)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSeq.sorted
    assert(buckets.nonEmpty && buckets.forall(_.matches("bucket=[0-3]")))
    assert(store.count() == 40)
    // tail touching ONE quad → recompaction owns only that quad's bucket
    import spark.implicits._
    store.commitOps(1, Seq(QuadStore.OpRow("D", 0L, null,
      Term.iri("http://x/s0"), Term.iri("http://x/p"), Term.lit("1"))).toDF())
    store.compact()
    val segs = store.committedSegments()
    assert(segs.size == 2 && segs.head == firstBase, s"segments: $segs")
    assert(segs(1).matches("s\\d+-base-k\\d(_\\d)*"), s"partial base: ${segs(1)}")
    assert(store.count() == 39)
    // the untouched first-base bucket files were not rewritten
    assert(segs(1).split("-k")(1).split("_").length < 4)
  }

  test("gc removes retired epoch segments and superseded bucket files; state unchanged") {
    val dir = Files.createTempDirectory("qsgc")
    val store = new QuadStore(spark, dir.toString, numBuckets = 4)
    store.addQuads(0, (0 until 40).map(i => q(s"s$i", "1")))
    store.addQuads(1, Seq(q("extra", "1")))
    store.compact()
    import spark.implicits._
    store.commitOps(2, Seq(QuadStore.OpRow("D", 0L, null,
      Term.iri("http://x/s0"), Term.iri("http://x/p"), Term.lit("1"))).toDF())
    store.compact() // partial base supersedes some buckets of the first
    val before = store.count()
    def segDirs() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("s")).toSet
    val live = store.committedSegments().toSet
    assert(segDirs() != live, "expected retired epoch dirs before gc")
    val removed = store.gc()
    assert(removed > 0)
    assert(segDirs() == live, s"gc left non-live dirs: ${segDirs() -- live}")
    // the first base keeps only the buckets it still owns
    val firstBase = live.filter(_.matches("s\\d+-base")).head
    val partial = live.filter(_.matches("s\\d+-base-k.*")).head
    val superseded = partial.split("-k")(1).split("_").map(_.toInt).toSet
    val kept = Files.list(dir.resolve(firstBase)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("bucket="))
      .map(_.drop(7).toInt).toSet
    assert(kept.intersect(superseded).isEmpty, s"disowned buckets survive: $kept ∩ $superseded")
    assert(store.count() == before)
    // idempotent: a second pass removes nothing
    assert(store.gc() == 0)
  }

  test("gc grace window defers deletion until paths have been dead long enough") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1"), q("b", "1")))
    val preReplay = store.quads() // lazy plan over the doomed segment
    store.addQuads(0, Seq(q("a", "1"), q("c", "1"))) // retires the old dir
    val t0 = 1_000_000L
    // first pass inside the grace: journals the dead dir, deletes
    // nothing — the lazy plan still reads its snapshot afterwards
    assert(store.gc(graceMillis = 60_000L, nowMillis = t0) == 0)
    assert(preReplay.collect().map(_.getStruct(1).getString(1)).toSet ==
      Set("http://x/a", "http://x/b"))
    // still inside the grace on a later pass: still nothing
    assert(store.gc(graceMillis = 60_000L, nowMillis = t0 + 30_000L) == 0)
    // past the grace: the dir goes, live state is untouched
    assert(store.gc(graceMillis = 60_000L, nowMillis = t0 + 60_000L) >= 1)
    assert(store.quads().collect().map(_.getStruct(1).getString(1)).toSet ==
      Set("http://x/a", "http://x/c"))
    assert(store.gc(graceMillis = 60_000L, nowMillis = t0 + 60_000L) == 0)
  }

  test("a bucket emptied by deletes does not resurrect from the older base") {
    val store = new QuadStore(spark, Files.createTempDirectory("qsempty").toString,
      numBuckets = 2)
    store.addQuads(0, Seq(q("a", "1"), q("b", "1"), q("c", "1")))
    store.compact()
    // delete EVERYTHING, then recompact: some bucket is now fully empty
    import spark.implicits._
    val dels = Seq("a", "b", "c").zipWithIndex.map { case (s, i) =>
      QuadStore.OpRow("D", i.toLong, null, Term.iri(s"http://x/$s"),
        Term.iri("http://x/p"), Term.lit("1"))
    }
    store.commitOps(1, dels.toDF())
    store.compact()
    assert(store.count() == 0, "deleted quads resurrected from a superseded bucket")
    // and the store still accepts and serves new epochs
    store.addQuads(2, Seq(q("z", "9")))
    assert(store.count() == 1)
  }

  test("empty-tail read after compaction is a bare scan — no shuffle") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1")))
    store.addQuads(1, Seq(q("b", "1")))
    store.compact()
    val plan = store.quads().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan should not shuffle:\n$plan")
  }

  test("many-epoch read is a single multi-path scan, flat planning") {
    val store = newStore()
    (0 until 30).foreach(i => store.addQuads(i.toLong, Seq(q(s"s$i", "1"))))
    val t0 = System.nanoTime()
    val df = store.quads()
    val plan = df.queryExecution.executedPlan.toString
    val planMs = (System.nanoTime() - t0) / 1e6
    // one parquet scan node regardless of epoch count (no per-segment union)
    assert("Scan parquet".r.findAllIn(plan).size == 1, s"expected one scan:\n$plan")
    assert(planMs < 5000, s"planning took ${planMs}ms")
    assert(df.count() == 30)
  }

  test("cross-segment ordering survives seq values beyond 2^40 (kafka-scale offsets)") {
    import spark.implicits._
    val store = newStore()
    // batch 0 adds with a huge intra-batch seq (offset<<20 at billions
    // of events); batch 1 deletes with seq 0 — the LATER SEGMENT must
    // win; a packed ord<<40+seq key would order these wrongly
    store.commitOps(0, Seq(QuadStore.OpRow("A", 1L << 45, null,
      Term.iri("http://x/big"), Term.iri("http://x/p"), Term.lit("1"))).toDF())
    store.commitOps(1, Seq(QuadStore.OpRow("D", 0L, null,
      Term.iri("http://x/big"), Term.iri("http://x/p"), Term.lit("1"))).toDF())
    assert(store.count() == 0)
  }

  test("PA/PD patch ops maintain the dataset prefix map in order") {
    import graft.connect._
    val store = newStore()
    val patch =
      """TX .
        |PA "ex" <http://example/> .
        |PA "old" <http://old/> .
        |A <http://example/s> <http://example/p> "v" .
        |PD "old" .
        |TC .
        |""".stripMargin
    val ev = Event("t", 0, 0, Array.empty, patch.getBytes("UTF-8"),
      Map("Content-Type" -> "application/rdf-patch"))
    val p = new Projector(new MemoryEventSource(Seq(ev)), new QuadStoreSink(spark, store))
    p.runToCompletion()
    assert(store.prefixes() == Map("ex" -> "http://example/"))
    assert(store.count() == 1)
  }

  test("decodeKey splits left with limit 3 (reference FKS semantics)") {
    assert(OffsetStore.decodeKey("t-0-fuseki-2").contains(("t", 0)))
    assert(OffsetStore.decodeKey("topic-12-123").contains(("topic", 12)))
    assert(OffsetStore.decodeKey("t-x-g").isEmpty)
    assert(OffsetStore.decodeKey("t-0").isEmpty)
  }

  test("AggView: incremental refresh equals full recompute, presence-exact") {
    import spark.implicits._
    val store = newStore()
    val view = new AggView(spark, store,
      Files.createTempDirectory("aggview").toString, Seq("predicate"))
    def p(n: String) = Term.iri(s"http://x/$n")
    def quad(s: String, pred: String, o: String) =
      Quad(null, Term.iri(s"http://x/$s"), p(pred), Term.lit(o))
    store.addQuads(0, Seq(quad("a", "p1", "1"), quad("b", "p1", "1"),
      quad("c", "p2", "1")))
    assert(view.refresh() == 0L)
    def counts(): Map[String, Long] = view.result().collect()
      .map(r => r.getStruct(0).getString(1) -> r.getLong(1)).toMap
    assert(counts() == Map("http://x/p1" -> 2L, "http://x/p2" -> 1L))
    // batch 1: a RE-ADD of a present quad (set no-op), a delete of an
    // ABSENT quad (set no-op), one real add, one real delete — only
    // the real ops may move the counts
    store.commitOps(1, Seq(
      QuadStore.OpRow("A", 0L, null, Term.iri("http://x/a"), p("p1"), Term.lit("1")),
      QuadStore.OpRow("D", 1L, null, Term.iri("http://x/zz"), p("p2"), Term.lit("1")),
      QuadStore.OpRow("A", 2L, null, Term.iri("http://x/d"), p("p3"), Term.lit("1")),
      QuadStore.OpRow("D", 3L, null, Term.iri("http://x/c"), p("p2"), Term.lit("1"))
    ).toDF())
    assert(view.refresh() == 1L)
    // p2 dropped to zero → its row disappears
    assert(counts() == Map("http://x/p1" -> 2L, "http://x/p3" -> 1L))
    // equals a from-scratch full aggregate
    val full = store.quads().groupBy(col("predicate"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1))).collect()
      .map(r => r.getStruct(0).getString(1) -> r.getLong(1)).toMap
    assert(counts() == full)
    // idempotent no-change refresh
    assert(view.refresh() == 1L)
    assert(counts() == full)
  }

  test("JoinView: incremental refresh equals full recompute across add/delete/no-op") {
    import spark.implicits._
    val store = newStore()
    def p(n: String) = Term.iri(s"http://x/$n")
    def quad(s: String, pred: String, o: String) =
      Quad(null, Term.iri(s"http://x/$s"), p(pred), Term.lit(o))
    val preds = Seq(p("name"), p("age"))
    val view = new graft.store.JoinView(spark, store,
      Files.createTempDirectory("joinview").toString, preds)
    store.addQuads(0, Seq(
      quad("a", "name", "alice"), quad("a", "age", "30"),
      quad("b", "name", "bob"), quad("b", "age", "40"),
      quad("c", "name", "carol"), // dangling: no age → no star row
      quad("d", "name", "dan"), quad("d", "name", "danny"), // two names
      quad("d", "age", "50")))
    assert(view.refresh() == 0L)
    def rows(): Set[(String, String, String)] = view.result().collect()
      .map(r => (r.getStruct(0).getString(1), r.getStruct(1).getString(1),
        r.getStruct(2).getString(1))).toSet
    assert(rows() == Set(
      ("http://x/a", "alice", "30"), ("http://x/b", "bob", "40"),
      ("http://x/d", "dan", "50"), ("http://x/d", "danny", "50")))
    // batch 1: delete a leaf (a's star vanishes), no-op re-add (b
    // unchanged), complete c's star, delete one of d's two names
    // (one of d's two rows vanishes), add an unrelated predicate
    // (must not touch the view), add a fresh dangling subject
    store.commitOps(1, Seq(
      QuadStore.OpRow("D", 0L, null, Term.iri("http://x/a"), p("age"), Term.lit("30")),
      QuadStore.OpRow("A", 1L, null, Term.iri("http://x/b"), p("name"), Term.lit("bob")),
      QuadStore.OpRow("A", 2L, null, Term.iri("http://x/c"), p("age"), Term.lit("60")),
      QuadStore.OpRow("D", 3L, null, Term.iri("http://x/d"), p("name"), Term.lit("danny")),
      QuadStore.OpRow("A", 4L, null, Term.iri("http://x/b"), p("email"), Term.lit("x")),
      QuadStore.OpRow("A", 5L, null, Term.iri("http://x/e"), p("name"), Term.lit("eve"))
    ).toDF())
    assert(view.refresh() == 1L)
    assert(rows() == Set(
      ("http://x/b", "bob", "40"), ("http://x/c", "carol", "60"),
      ("http://x/d", "dan", "50")))
    // equals a from-scratch full star init on the same state
    val fresh = new graft.store.JoinView(spark, store,
      Files.createTempDirectory("joinview_full").toString, preds)
    fresh.refresh()
    assert(fresh.result().collect().map(r =>
      (r.getStruct(0).getString(1), r.getStruct(1).getString(1),
        r.getStruct(2).getString(1))).toSet == rows())
    // idempotent no-change refresh
    assert(view.refresh() == 1L)
    // a window touching none of the view's predicates keeps the rows
    store.commitOps(2, Seq(QuadStore.OpRow("A", 0L, null,
      Term.iri("http://x/zz"), p("email"), Term.lit("y"))).toDF())
    assert(view.refresh() == 2L)
    assert(rows() == Set(
      ("http://x/b", "bob", "40"), ("http://x/c", "carol", "60"),
      ("http://x/d", "dan", "50")))
  }

  test("JoinView: compaction past the as-of point re-initializes correctly") {
    import spark.implicits._
    val store = newStore()
    def p(n: String) = Term.iri(s"http://x/$n")
    def quad(s: String, pred: String, o: String) =
      Quad(null, Term.iri(s"http://x/$s"), p(pred), Term.lit(o))
    val view = new graft.store.JoinView(spark, store,
      Files.createTempDirectory("joinview_c").toString, Seq(p("name"), p("age")))
    store.addQuads(0, Seq(quad("a", "name", "alice"), quad("a", "age", "30")))
    view.refresh()
    store.addQuads(1, Seq(quad("b", "name", "bob"), quad("b", "age", "40")))
    store.compact() // floor passes the view's as-of batch 0
    assert(view.refresh() == 1L)
    assert(view.result().count() == 2)
  }

  test("AggView: refresh presence check partition-prunes to touched buckets") {
    import spark.implicits._
    val store = newStore() // 16 buckets
    val quads = (0 until 64).map(i => q(s"s$i", i.toString))
    store.addQuads(0, quads)
    store.compact() // bucketed base
    val view = new AggView(spark, store,
      Files.createTempDirectory("aggview2").toString, Seq("predicate"))
    view.refresh()
    // one changed quad → its bucket only
    store.commitOps(2, Seq(QuadStore.OpRow("D", 0L, null,
      Term.iri("http://x/s0"), Term.iri("http://x/p"), Term.lit("0"))).toDF())
    val cdc = store.changes(0L, 2L)
    val buckets = cdc.select(store.bucketOf.as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(buckets.size == 1)
    val pruned = store.quadsAtBuckets(0L, buckets)
    // the base read PARTITION-PRUNES to the selected bucket directory:
    // the scan's resolved file listing (post partition filters) holds
    // only bucket=<sel> files
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scanned = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
    assert(scanned.nonEmpty)
    assert(scanned.forall(_.contains(s"bucket=${buckets.head}")), scanned)
    // and the pruned state agrees with the full state on those buckets
    val fullCnt = store.quadsAt(0L)
      .filter(store.bucketOf === buckets.head).count()
    assert(pruned.count() == fullCnt)
    // the incremental refresh lands on the right answer
    view.refresh()
    assert(view.result().agg(org.apache.spark.sql.functions.sum("cnt"))
      .collect().head.getLong(0) == 63L)
  }

  test("blank node labels: medial dot legal, terms self-delimiting") {
    val qs = NQuadsParser.parse("_:b.1 <http://x/p> _:c.2.3 .", allowGraph = true)
    assert(qs.head.subject == Term.blank("b.1"))
    assert(qs.head.obj == Term.blank("c.2.3"))
    // bnode immediately followed by '<' — whitespace optional
    val qs2 = NQuadsParser.parse("_:a<http://x/p> \"v\" .", allowGraph = false)
    assert(qs2.head.subject == Term.blank("a"))
    assert(qs2.head.predicate == Term.iri("http://x/p"))
  }

  test("concurrent writers serialize: no segment lost, no id collision") {
    // a connector poll thread and HTTP mutation threads share one
    // store in GraftServer; each commit = read resumeBatchId + apply
    // under the sink's writer lock. Unsynchronized, interleaved
    // readVersion/writeVersion drops segments from the pointer and a
    // stale id read makes one writer COW-"replay" over the other's
    // fresh epoch. 4 threads × 4 commits of 1 quad each must land all
    // 16 quads in 16 distinct epoch segments.
    val store = newStore()
    val sink = new graft.connect.QuadStoreSink(spark, store)
    import spark.implicits._
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        try (0 until 4).foreach { i =>
          sink.exclusively {
            store.commitOps(store.nextBatchId, Seq(QuadStore.OpRow(
              "A", 0L, null, Term.iri(s"http://x/w$t-$i"),
              Term.iri("http://x/p"), Term.lit("1"))).toDF())
          }
        } catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer thread failed: ${errs.peek()}")
    assert(store.count() == 16L)
    assert(store.availableBatches() == (0L until 16L))
  }

  test("compacted base is predicate-clustered: row-group stats prune predicate scans") {
    // quad-hash bucketing randomizes predicate locality; compaction
    // must restore it WITHIN each bucket's files by sorting on
    // (predicate.lex, graph.lex, subject.lex), so a predicate-bound
    // BGP leaf — the dominant scan shape — skips row groups via
    // parquet min/max stats instead of reading every bucket in full
    val storeDir = Files.createTempDirectory("qslayout")
    val store = new QuadStore(spark, storeDir.toString, numBuckets = 2)
    val quads = for {
      p <- 0 until 20; s <- 0 until 2000
    } yield Quad(null, Term.iri(f"http://x/subj$s%05d"),
      Term.iri(f"http://x/pred$p%02d"), Term.lit(s"v$p-$s"))
    store.addQuads(0, quads)
    // tiny row groups so the fixture has enough of them to measure
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    hc.setInt("parquet.page.size", 8 * 1024)
    try store.compact()
    finally {
      if (oldBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", oldPage)
    }
    // 1) the pushed predicate reaches the base scan
    val probe = "http://x/pred07"
    val scan = store.quads().filter(col("predicate.lex") === probe)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("predicate.lex"),
      s"predicate.lex equality must push to the parquet scan:\n$plan")
    assert(scan.count() == 2000L)
    // 2) the footer stats actually discriminate: only a small minority
    // of row groups can contain the probe predicate
    val baseDir = Files.list(storeDir).iterator().asScala
      .find(_.getFileName.toString.contains("-base")).get
    val files = Files.walk(baseDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    var total = 0
    var containing = 0
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), hc)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == "predicate.lex").foreach { cc =>
            val st = cc.getStatistics
            if (st != null && !st.isEmpty) {
              total += 1
              val min = new String(st.getMinBytes, java.nio.charset.StandardCharsets.UTF_8)
              val max = new String(st.getMaxBytes, java.nio.charset.StandardCharsets.UTF_8)
              if (min <= probe && probe <= max) containing += 1
            }
          }
      } finally reader.close()
    }
    assert(total >= 8, s"fixture must produce several row groups, got $total")
    assert(containing <= math.max(2, total / 4),
      s"predicate clustering failed: $containing of $total row groups can " +
      "contain the probe predicate — stats would not prune the scan")
  }

  test("exportTurtle fails loudly on named-graph quads (no silent drop)") {
    val store = newStore()
    store.addQuads(0, Seq(q("a", "1"),
      Quad(Term.iri("http://x/g"), Term.iri("http://x/s"),
        Term.iri("http://x/p"), Term.lit("2"))))
    val out = Files.createTempDirectory("ttl").toString
    val e = intercept[IllegalArgumentException](
      graft.rdf.TurtleWriter.exportTurtle(store.quads(), Map.empty, out))
    assert(e.getMessage.contains("exportTriG"))
    // default-graph-only data exports fine through the same call
    graft.rdf.TurtleWriter.exportTurtle(
      store.quads().filter(col("graph").isNull), Map.empty, out)
    assert(spark.read.text(out).count() >= 1)
  }

  private def nqEvent(off: Long, body: String): MaterialisedEvent = {
    val bytes = body.getBytes("UTF-8")
    MaterialisedEvent(
      Event("t", 0, off, null, bytes, Map("Content-Type" -> "application/n-quads")),
      RdfParse.decode(bytes, "application/n-quads", s"t:0:$off"))
  }

  /** parquet data files in one committed segment directory */
  private def partFiles(root: java.nio.file.Path, segment: String): Int = {
    val st = Files.list(root.resolve(segment))
    try st.iterator().asScala.count { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    } finally st.close()
  }

  private def state(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getStruct(1).getString(1), r.getStruct(3).getString(1))).toSet

  test("a small driver-route commit writes one parquet file") {
    val root = Files.createTempDirectory("qs")
    val store = new QuadStore(spark, root.toString)
    val body = (0 until 10).map(i => s"<http://x/s$i> <http://x/p> \"$i\" .").mkString("\n")
    new QuadStoreSink(spark, store).apply(0, Seq(nqEvent(0, body)))
    assert(partFiles(root, store.committedSegments().last) == 1)
    assert(store.count() == 10)
  }

  test("a driver batch of the bulk-threshold size keeps defaultParallelism write tasks") {
    import QuadStoreSink.{DefaultBulkBytes, writeTasks}
    val par = spark.sparkContext.defaultParallelism
    assert(writeTasks(0, par) == 1)
    assert(writeTasks(DefaultBulkBytes / par, par) == 1)
    assert(writeTasks(DefaultBulkBytes / par + 1, par) == 2)
    assert(writeTasks(DefaultBulkBytes, par) == par)
    assert(writeTasks(Long.MaxValue, par) == par)
    // 64 one-quad events of ~512 KiB each: DefaultBulkBytes of payload
    val literal = "x" * (512 << 10)
    val events = (0 until 64).map(i =>
      nqEvent(i, s"<http://x/s$i> <http://x/p> \"$literal\" ."))
    assert(events.map(_.event.sizeInBytes).sum >= DefaultBulkBytes)
    val root = Files.createTempDirectory("qs")
    val store = new QuadStore(spark, root.toString)
    // a sink that never routes bulk keeps the whole batch on the driver
    new QuadStoreSink(spark, store, Long.MaxValue).apply(0, events)
    assert(partFiles(root, store.committedSegments().last) == par)
    assert(store.count() == 64)
  }

  test("a growing tail is listed once: no parallel listing job, new files discovered once") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    import spark.implicits._
    val root = Files.createTempDirectory("qs")
    val store = new QuadStore(spark, root.toString)
    val parallelJobs = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED
    val jobs0 = parallelJobs.getCount
    var model = Set.empty[(String, String)]
    (0 until 40).foreach { i =>
      val before = discovered.getCount
      if (i % 10 == 9) {
        // a delete-bearing epoch: the ordered fold reads the tail twice
        store.commitOps(i, Seq(QuadStore.OpRow("D", 0L, null, Term.iri(s"http://x/s${i - 1}"),
          Term.iri("http://x/p"), Term.lit("1"))).toDF())
        model -= ((s"http://x/s${i - 1}", "1"))
      } else {
        store.addQuads(i, Seq(q(s"s$i", "1"), q("shared", "1")))
        model ++= Set((s"http://x/s$i", "1"), ("http://x/shared", "1"))
      }
      assert(store.count() == model.size, s"commit $i")
      assert(discovered.getCount - before == partFiles(root, store.committedSegments().last),
        s"commit $i listed more than its own segment")
    }
    assert(parallelJobs.getCount == jobs0, "a read ran a distributed listing job")
    assert(state(store.quads()) == model)
  }

  test("a store reopened from disk reads the same state") {
    import spark.implicits._
    val root = Files.createTempDirectory("qs")
    val store = new QuadStore(spark, root.toString)
    store.addQuads(0, Seq(q("a", "1"), q("b", "1")))
    store.addQuads(1, Seq(q("c", "1")))
    store.commitOps(2, Seq(QuadStore.OpRow("D", 0L, null, Term.iri("http://x/a"),
      Term.iri("http://x/p"), Term.lit("1"))).toDF())
    val expected = Set(("http://x/b", "1"), ("http://x/c", "1"))
    assert(state(store.quads()) == expected && store.count() == 2)
    val reopened = new QuadStore(spark, root.toString)
    assert(state(reopened.quads()) == expected)
    assert(reopened.count() == 2)
  }

  test("replay after a crash between the -a rename and the version write") {
    val root = Files.createTempDirectory("qs")
    val store = new QuadStore(spark, root.toString)
    store.addQuads(0, Seq(q("a", "1")))
    val version = root.resolve("_version")
    val aside = root.resolve("_version.aside")
    Files.copy(version, aside)
    store.addQuads(1, Seq(q("b", "1")))
    assert(store.count() == 2) // this read lists the segment the crash orphans
    // the crash: epoch 1's segment is on disk under its `-a` name, but
    // the pointer never moved past epoch 0
    Files.copy(aside, version, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(store.count() == 1)
    store.addQuads(1, Seq(q("b", "1"))) // the replay
    val expected = Set(("http://x/a", "1"), ("http://x/b", "1"))
    assert(store.committedSegments().size == 2)
    assert(state(store.quads()) == expected && store.count() == 2)
    assert(new QuadStore(spark, root.toString).count() == 2) // after a restart
  }
}
