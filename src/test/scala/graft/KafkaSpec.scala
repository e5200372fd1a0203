package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.connect._
import graft.store.QuadStore

/** The Kafka adapter's full [[EventSource]] contract, driven through
  * the same reflective call paths production takes, against the
  * test-scope stub of the public kafka-clients consumer API
  * (StubBroker / org.apache.kafka.KafkaStub.scala): read-policy seeks,
  * buffered poll, lag math, next-to-read commit fold, header
  * pass-through, topic listing, and an end-to-end projector run into
  * a quad store.
  */
class KafkaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def nq(i: Int): Array[Byte] =
    s"<http://x/s$i> <http://x/p> \"v$i\" .\n".getBytes(UTF_8)

  private val CT = Seq("Content-Type" -> "application/n-quads".getBytes(UTF_8))

  private def src(topic: String, policy: ReadPolicy,
      offsets: Map[(String, Int), Long] = Map.empty,
      group: String = "g1", props: Map[String, String] = Map.empty) =
    new KafkaEventSource("stub:9092", Seq(topic), group, props, policy,
      offsets, pollTimeoutMillis = 10, assignWaitMillis = 200)

  test("adapter binds reflectively (stub on the test classpath)") {
    assert(KafkaEventSource.isAvailable)
  }

  test("Replay policy reads from the beginning regardless of commits") {
    StubBroker.reset(); StubBroker.createTopic("t1")
    (0 until 3).foreach(i => StubBroker.send("t1", 0, nq(i), CT))
    StubBroker.commit("g1", "t1", 0, 2L) // a previous run got to 2
    val s = src("t1", ReadPolicy.Replay)
    val evs = Iterator.continually(s.poll()).takeWhile(_.isDefined).flatten.toSeq
    assert(evs.map(_.offset) == Seq(0L, 1L, 2L))
    assert(evs.head.contentType == "application/n-quads")
    s.close()
  }

  test("Latest policy skips the existing log and serves only new sends") {
    StubBroker.reset(); StubBroker.createTopic("t2")
    (0 until 3).foreach(i => StubBroker.send("t2", 0, nq(i), CT))
    val s = src("t2", ReadPolicy.Latest)
    assert(s.poll().isEmpty)
    StubBroker.send("t2", 0, nq(99), CT)
    assert(s.poll().map(_.offset).contains(3L))
    s.close()
  }

  test("Sync policy seeks stored next-to-read offsets; unknown partitions restart") {
    StubBroker.reset(); StubBroker.createTopic("t3", partitions = 2)
    (0 until 3).foreach { i =>
      StubBroker.send("t3", 0, nq(i), CT); StubBroker.send("t3", 1, nq(10 + i), CT)
    }
    // state file knows partition 0 read through offset 1 (next = 2);
    // partition 1 is unknown → beginning
    val s = src("t3", ReadPolicy.Sync, offsets = Map(("t3", 0) -> 2L))
    val evs = Iterator.continually(s.poll()).takeWhile(_.isDefined).flatten.toSeq
    assert(evs.collect { case e if e.partition == 0 => e.offset } == Seq(2L))
    assert(evs.collect { case e if e.partition == 1 => e.offset } == Seq(0L, 1L, 2L))
    s.close()
  }

  test("lag, buffering, and the commit fold match the trait contract") {
    StubBroker.reset(); StubBroker.createTopic("t4")
    (0 until 5).foreach(i => StubBroker.send("t4", 0, nq(i), CT))
    val s = src("t4", ReadPolicy.Replay, props = Map("max.poll.records" -> "2"))
    assert(s.remaining().contains(5L))
    assert(!s.availableImmediately()) // nothing buffered before first poll
    val e0 = s.poll().get // pulls a 2-record batch, serves one
    assert(s.availableImmediately()) // one still buffered
    // lag is Σ end − position (the EventSource contract): position 2,
    // end 5 → 3; the buffered event is already past the position
    assert(s.remaining().contains(3L))
    val e1 = s.poll().get
    assert(!s.availableImmediately())
    assert(Seq(e0.offset, e1.offset) == Seq(0L, 1L))
    // processed folds to per-partition max+1 and commits
    s.processed(Seq(e0, e1))
    assert(StubBroker.committed("g1", "t4", 0).contains(2L))
    s.close()
    // a Sync restart from the COMMITTED store resumes exactly there
    val s2 = src("t4", ReadPolicy.Sync, offsets = Map(("t4", 0) -> 2L))
    assert(s2.poll().map(_.offset).contains(2L))
    s2.close()
  }

  test("remaining() is end − position; buffered events are not lag") {
    StubBroker.reset(); StubBroker.createTopic("t5")
    (0 until 6).foreach(i => StubBroker.send("t5", 0, nq(i), CT))
    val s = src("t5", ReadPolicy.Replay, props = Map("max.poll.records" -> "4"))
    s.poll() // fetches 4 (position 4), serves 1, 3 remain buffered
    // end 6 − position 4 = 2: the 3 buffered events are neither lag
    // nor subtracted from it
    assert(s.remaining().contains(2L))
    s.close()
  }

  test("headers pass through; topic listing answers the startup gate") {
    StubBroker.reset(); StubBroker.createTopic("present")
    StubBroker.send("present", 0, nq(0),
      Seq("Content-Type" -> "text/turtle".getBytes(UTF_8), "X-Extra" -> "7".getBytes(UTF_8)))
    assert(KafkaEventSource.topicExists("stub:9092", "present"))
    assert(!KafkaEventSource.topicExists("stub:9092", "absent"))
    val s = src("present", ReadPolicy.Replay)
    val e = s.poll().get
    assert(e.contentType == "text/turtle")
    assert(e.headers("X-Extra") == "7")
    s.close()
  }

  test("end-to-end: projector drains a stub topic into a quad store") {
    StubBroker.reset(); StubBroker.createTopic("e2e")
    (0 until 10).foreach(i => StubBroker.send("e2e", 0, nq(i), CT))
    val s = src("e2e", ReadPolicy.Replay, group = "ge2e")
    val store = new QuadStore(spark, Files.createTempDirectory("kafkae2e").toString)
    val p = new Projector(s, new QuadStoreSink(spark, store),
      ProjectorConfig(batchSize = 4))
    p.runToCompletion()
    assert(store.count() == 10L)
    // commit-on-processed reached the broker: next-to-read = 10
    assert(StubBroker.committed("ge2e", "e2e", 0).contains(10L))
    s.close()
  }

  test("read policy applies to partitions assigned AFTER startup (rebalance listener)") {
    StubBroker.reset(); StubBroker.createTopic("t6", partitions = 1)
    (0 until 3).foreach(i => StubBroker.send("t6", 0, nq(i), CT))
    // Sync: partition 0 resumes at stored offset 1; partition 1 does
    // not exist yet at construction time
    val s = src("t6", ReadPolicy.Sync,
      offsets = Map(("t6", 0) -> 1L, ("t6", 1) -> 2L))
    val first = Iterator.continually(s.poll()).takeWhile(_.isDefined).flatten.toSeq
    assert(first.map(_.offset) == Seq(1L, 2L))
    // the partition appears later (rebalance): the listener must seek
    // it to ITS stored offset (2), not the committed/default position
    StubBroker.createTopic("t6", partitions = 2)
    (0 until 4).foreach(i => StubBroker.send("t6", 1, nq(10 + i), CT))
    val late = Iterator.continually(s.poll()).takeWhile(_.isDefined).flatten.toSeq
    assert(late.filter(_.partition == 1).map(_.offset) == Seq(2L, 3L),
      "late-assigned partition must start at its stored next-to-read offset")
    s.close()
  }

  test("GraftServer.kafka: full production wiring over the stub broker") {
    StubBroker.reset(); StubBroker.createTopic("RDFK")
    (0 until 2).foreach(i => StubBroker.send("RDFK", 0, nq(i), CT))
    val stateDir = Files.createTempDirectory("gk")
    val ttl =
      s"""@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
         |@prefix fk: <http://jena.apache.org/fuseki/kafka#> .
         |<#conn> rdf:type fk:Connector ;
         |  fk:bootstrapServers "stub:9092" ;
         |  fk:topic "RDFK" ;
         |  fk:fusekiServiceName "/dsk" ;
         |  fk:groupId "gk-group" ;
         |  fk:replayTopic true ;
         |  fk:startupTopicCheck true ;
         |  fk:stateFile "$stateDir/RDFK.state" .
         |""".stripMargin
    val srv = graft.server.GraftServer.kafka(spark,
      Files.createTempDirectory("gkstores"))
    val port = srv.start(ttl) // topic gate answered by the stub listing
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val q = java.net.URLEncoder.encode(
        "SELECT (count(*) AS ?C) { ?s ?p ?o }", "UTF-8")
      def count(): String = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/dsk/query?query=$q"))
          .header("Accept", "text/csv").build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
        .body.linesIterator.toSeq.last
      val deadline = System.currentTimeMillis + 15000
      while (count() != "2" && System.currentTimeMillis < deadline) Thread.sleep(250)
      assert(count() == "2")
      // live ingest: a record sent AFTER startup flows through
      StubBroker.send("RDFK", 0, nq(7), CT)
      while (count() != "3" && System.currentTimeMillis < deadline) Thread.sleep(250)
      assert(count() == "3")
      // commit-on-processed reached the stub broker
      assert(StubBroker.committed("gk-group", "RDFK", 0).contains(3L))
    } finally srv.stop()
  }

  test("records returned by the poll that completes assignment are not dropped") {
    StubBroker.reset(); StubBroker.createTopic("t7")
    (0 until 3).foreach(i => StubBroker.send("t7", 0, nq(i), CT))
    StubBroker.commit("g1", "t7", 0, 2L) // Replay must still read from 0
    // real-consumer shape: subscribe() returns unassigned; the startup
    // wait loop's poll() completes the rebalance (listener seeks run)
    // AND returns records in that same invocation — discarding them
    // would advance positions past events that were never served, and
    // a later processed() would commit beyond them permanently
    StubBroker.deferAssignment = true
    val s = src("t7", ReadPolicy.Replay)
    StubBroker.deferAssignment = false
    val evs = Iterator.continually(s.poll()).takeWhile(_.isDefined).flatten.toSeq
    assert(evs.map(_.offset) == Seq(0L, 1L, 2L),
      "startup-poll records must be buffered, not dropped")
    s.processed(evs)
    assert(StubBroker.committed("g1", "t7", 0).contains(3L))
    s.close()
  }

  test("security props flow TTL → assembler → factory → consumer constructor verbatim") {
    StubBroker.reset(); StubBroker.createTopic("sec")
    // the reference carries SASL/mTLS purely as pass-through consumer
    // properties (KafkaConnectorAssembler.java:325-374; e2e
    // DockerTestSecureKafka / DockerTestMutualTlsKafka); the contract
    // here is that every security prop — inline fk:config pairs AND
    // fk:configFile entries — reaches the reflective constructor's
    // Properties unmodified
    val jaas = "org.apache.kafka.common.security.plain.PlainLoginModule " +
      "required username=\"client\" password=\"client-secret\";"
    val propsFile = Files.createTempFile("sec", ".properties")
    Files.writeString(propsFile,
      "ssl.truststore.location=/etc/pki/trust.p12\n" +
      "ssl.truststore.password=trust-secret\n")
    val ttl =
      s"""@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
         |@prefix fk: <http://jena.apache.org/fuseki/kafka#> .
         |<#conn> rdf:type fk:Connector ;
         |  fk:bootstrapServers "stub:9092" ;
         |  fk:topic "sec" ;
         |  fk:fusekiServiceName "/sec" ;
         |  fk:groupId "gsec" ;
         |  fk:stateFile "/tmp/unused-sec.state" ;
         |  fk:config ("security.protocol" "SASL_SSL") ;
         |  fk:config ("sasl.mechanism" "PLAIN") ;
         |  fk:config ("sasl.jaas.config" "${jaas.replace("\"", "\\\"")}") ;
         |  fk:config ("ssl.keystore.location" "/etc/pki/client.p12") ;
         |  fk:config ("ssl.keystore.password" "keystore-secret") ;
         |  fk:configFile "$propsFile" .
         |""".stripMargin
    val cfg = ConnectorAssembler.assemble(ttl).head
    val s = new KafkaEventSourceFactory(pollTimeoutMillis = 10)
      .create(cfg, ReadPolicy.Latest, Map.empty)
    val got = StubBroker.lastConsumerProps
    assert(got != null)
    assert(got.getProperty("security.protocol") == "SASL_SSL")
    assert(got.getProperty("sasl.mechanism") == "PLAIN")
    assert(got.getProperty("sasl.jaas.config") == jaas)
    assert(got.getProperty("ssl.keystore.location") == "/etc/pki/client.p12")
    assert(got.getProperty("ssl.keystore.password") == "keystore-secret")
    assert(got.getProperty("ssl.truststore.location") == "/etc/pki/trust.p12")
    assert(got.getProperty("ssl.truststore.password") == "trust-secret")
    assert(got.getProperty("group.id") == "gsec")
    // adapter invariants still pinned underneath the pass-through
    assert(got.getProperty("enable.auto.commit") == "false")
    s.asInstanceOf[AutoCloseable].close()
  }

  test("the factory wires connector config fields through") {
    StubBroker.reset(); StubBroker.createTopic("fac")
    StubBroker.send("fac", 0, nq(1), CT)
    val cfg = ConnectorConfig(
      topics = Seq("fac"), bootstrapServers = "stub:9092",
      datasetName = "/ds", stateFile = "/tmp/unused-state.json",
      syncTopic = false, replayTopic = true, checkTopicAtStartup = false,
      dlqTopic = None,
      kafkaProps = Map("group.id" -> "gf", "max.poll.records" -> "100"))
    val s = new KafkaEventSourceFactory(pollTimeoutMillis = 10)
      .create(cfg, ReadPolicy.Replay, Map.empty)
    assert(s.poll().map(_.offset).contains(0L))
    s.processed(Seq(Event("fac", 0, 0L, null, null, Map.empty)))
    assert(StubBroker.committed("gf", "fac", 0).contains(1L))
    s.asInstanceOf[AutoCloseable].close()
  }
}
