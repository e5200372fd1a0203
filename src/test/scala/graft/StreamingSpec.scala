package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.QuadStore
import graft.streaming.IngestPipeline

/** Structured Streaming behavior: the ingest foreachBatch pipeline end
  * to end (store segments, DLQ side output, offset mirror) and a
  * custom mapGroupsWithState stateful operator.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rawEvent(off: Long, body: String, ct: String = "application/n-quads") =
    ("t", 0, off, Array.emptyByteArray, body.getBytes("UTF-8"), ct)

  test("ingest stream: micro-batches commit segments, corrupt events hit the DLQ dir") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Int, Long, Array[Byte], Array[Byte], String)]
    val events = stream.toDF()
      .toDF("topic", "partition", "offset", "key", "value", "contentType")
    val store = new QuadStore(spark, Files.createTempDirectory("sstore").toString)
    val dlqDir = Files.createTempDirectory("sdlq").toString
    val ckpt = Files.createTempDirectory("sckpt").toString

    stream.addData(
      rawEvent(0, "<http://g/a> <http://g/p> \"1\" ."),
      rawEvent(1, "not rdf at all"),
      rawEvent(2, "<http://g/b> <http://g/p> \"2\" ."))
    val q = IngestPipeline.startStream(events, store, Some(dlqDir), None, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination()

    stream.addData(rawEvent(3, "TX .\nA <http://g/c> <http://g/p> \"3\" .\nTC .",
      "application/rdf-patch"))
    val q2 = IngestPipeline.startStream(events, store, Some(dlqDir), None, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination()

    assert(store.count() == 3) // a, b, c — corrupt event excluded
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.count() == 1)
    assert(dlq.select("_corrupt").as[String].head().nonEmpty)
    assert(store.committedSegments().size == 2) // one segment per micro-batch

    // a WELL-FORMED sparql-update event is sequential-by-nature: the
    // unordered bulk path must DLQ it (reason, not parse error), not
    // silently drop or apply it
    stream.addData(rawEvent(4, "INSERT DATA { <http://g/d> <http://g/p> \"4\" }",
      "application/sparql-update"))
    val q3 = IngestPipeline.startStream(events, store, Some(dlqDir), None, ckpt,
      Trigger.AvailableNow())
    q3.awaitTermination()
    assert(store.count() == 3, "update applied through the unordered path")
    val dlq2 = spark.read.parquet(dlqDir)
    assert(dlq2.count() == 2)
    assert(dlq2.select("_corrupt").as[String].collect()
      .exists(_.contains("ordered projector path")))
  }

  test("mapGroupsWithState: running per-key counts survive across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, Long)]
    val counts = stream.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          (key, next)
      }
    val name = "mgws_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("mckpt").toString)
      .start()
    try {
      stream.addData(("a", 1L), ("a", 2L), ("b", 3L))
      q.processAllAvailable()
      stream.addData(("a", 4L), ("c", 5L))
      q.processAllAvailable()
      val last = spark.table(name).groupBy($"_1").agg(max($"_2").as("n"))
        .as[(String, Long)].collect().toMap
      assert(last == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally q.stop()
  }

  test("decodeEvents rejects a streaming DataFrame at the call") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, Int, Long, Array[Byte], Array[Byte], String)]
    val events = stream.toDF()
      .toDF("topic", "partition", "offset", "key", "value", "contentType")
    val e = intercept[IllegalArgumentException](graft.rdf.RdfParse.decodeEvents(events))
    assert(e.getMessage.contains("foreachBatch"), e.getMessage)
  }

  test("runToTable restores the session conf it overrides") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val stream = MemoryStream[String]
    stream.addData("a", "b", "a")
    val out = graft.streaming.StreamingQueries.runToTable(
      stream.toDF().groupBy("value").count(), "complete")
    assert(out.as[(String, Long)].collect().toMap == Map("a" -> 2L, "b" -> 1L))
    assert(keys.map(k => k -> spark.conf.getOption(k)) == before)
  }
}
