package servicebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration

import org.apache.spark.sql.SparkSession

import graft.connect.{ConnectorAssembler, ConnectorConfig, Engine, MemoryDlqSink,
  OffsetStore, QuadStoreSink}
import graft.server.{GraftServer, SparqlHttp}
import graft.store.QuadStore

/** A booted service over one topic: the dataset `/ds` fed by one
  * connector with the default thresholds, queryable over HTTP.
  */
trait Service {
  def port: Int
  def store: QuadStore
  def storeDir: Path
  def source: BenchSource
  def config: ConnectorConfig
  def stop(): Unit

  /** Next-to-read offset persisted in the connector's state file. */
  def savedOffset: Option[Long] =
    new OffsetStore(config.datasetName, java.nio.file.Paths.get(config.stateFile),
      config.consumerGroupId).loadOffset(config.topics.head, 0)
}

/** `GraftServer` as booted in production, with the bench's source. */
final class ServerService(val port: Int, val store: QuadStore, val storeDir: Path,
    factory: BenchSourceFactory, val config: ConnectorConfig, server: GraftServer)
    extends Service {
  def source: BenchSource = factory.created
  def stop(): Unit = server.stop()
}

/** The traced assembly: the parts `GraftServer.start` wires, put
  * together by hand so the sink can be wrapped.
  */
final class TracedService(val port: Int, val store: QuadStore, val storeDir: Path,
    val source: BenchSource,
    val config: ConnectorConfig, val sink: TimedSink, val dlq: MemoryDlqSink,
    engine: Engine, http: SparqlHttp) extends Service {
  def stop(): Unit = { engine.stop(); http.stop() }
}

object Service {
  val Dataset = "/ds"

  def configTtl(topic: String, stateFile: Path): String =
    s"""@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
       |@prefix fk: <http://jena.apache.org/fuseki/kafka#> .
       |<#conn> rdf:type fk:Connector ;
       |  fk:bootstrapServers "localhost:9092" ;
       |  fk:topic "$topic" ;
       |  fk:fusekiServiceName "$Dataset" ;
       |  fk:groupId "servicebench" ;
       |  fk:stateFile "$stateFile" .
       |""".stripMargin

  /** Boot a service over `topic` with its store and state under `dir`:
    * `GraftServer` itself, or with `traced` the hand assembly.
    */
  def boot(spark: SparkSession, topic: BenchTopic, dir: Path, spans: Spans,
      traced: Boolean): Service = {
    Files.createDirectories(dir)
    val ttl = configTtl(topic.name, dir.resolve("connector.state"))
    val factory = new BenchSourceFactory(topic, spans)
    val cfg = ConnectorAssembler.assemble(ttl).head
    val storeDir = dir.resolve("stores").resolve(cfg.datasetName.stripPrefix("/"))
    if (!traced) {
      val server = new GraftServer(spark, factory, dir.resolve("stores"))
      val p = server.start(ttl)
      new ServerService(p, server.store(Dataset), storeDir, factory, cfg, server)
    } else {
      Files.createDirectories(storeDir)
      val store = new QuadStore(spark, storeDir.toString)
      val http = new SparqlHttp(spark)
      http.registerDataset(cfg.datasetName.stripPrefix("/"), store)
      val sink = new TimedSink(new QuadStoreSink(spark, store), spans)
      val dlq = new MemoryDlqSink
      val engine = new Engine(factory, (_: ConnectorConfig) => sink,
        dlqFactory = (_: ConnectorConfig) => Some(dlq))
      engine.start(Seq(cfg))
      http.start()
      new TracedService(http.boundPort, store, storeDir, factory.created, cfg, sink, dlq, engine, http)
    }
  }
}

/** One timed HTTP request. */
final case class Reply(status: Int, body: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A SPARQL protocol client: `GET /ds/query`, results as JSON. */
final class SparqlClient(port: Int, spans: Spans) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val base = s"http://127.0.0.1:$port${Service.Dataset}/query?query="

  def query(name: String, q: String, req: Long = -1L): Reply = spans(s"http.$name", req) {
    val r = HttpRequest.newBuilder(
      URI.create(base + java.net.URLEncoder.encode(q, "UTF-8")))
      .header("Accept", "application/sparql-results+json")
      .timeout(Duration.ofSeconds(120)).GET().build()
    val t0 = System.nanoTime()
    val resp = client.send(r, HttpResponse.BodyHandlers.ofString())
    Reply(resp.statusCode(), resp.body(), t0, System.nanoTime())
  }
}
