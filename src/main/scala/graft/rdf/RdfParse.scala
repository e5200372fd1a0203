package graft.rdf

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Payload materialization + content-type dispatch (SURVEY.md §2.2
  * rows 10-11; reference FusekiProjector.materialiseValue,
  * FusekiProjector.java:502-508 and FusekiSink.java:41-45).
  *
  * An event's value bytes decode, per its Content-Type header, to
  * either a quad set ("dataset" kind) or an RDF Patch op stream
  * ("patch" kind). Default content type is application/n-quads
  * (README.md:8-9). Malformed payloads yield a non-null `_corrupt`
  * column (PERMISSIVE-mode analogue) instead of failing the job —
  * the DLQ split happens downstream on that column.
  */
object RdfParse {

  val CT_NQUADS = "application/n-quads"
  val CT_NTRIPLES = "application/n-triples"
  val CT_TURTLE = "text/turtle"
  val CT_TRIG = "application/trig"
  val CT_PATCH = "application/rdf-patch"
  val CT_SPARQL_UPDATE = "application/sparql-update"
  val CT_RDFXML = "application/rdf+xml"
  val CT_JSONLD = "application/ld+json"

  final case class Decoded(
      kind: String,               // "dataset" | "patch" | null on error
      quads: Seq[Quad],           // dataset kind
      ops: Seq[PatchOp],          // patch kind (full stream incl. markers)
      _corrupt: String)           // non-null ⇒ deserialization failure

  /** Normalize a Content-Type header (strip parameters, lowercase). */
  def normalize(ct: String): String = {
    if (ct == null || ct.trim.isEmpty) CT_NQUADS
    else {
      val semi = ct.indexOf(';')
      (if (semi >= 0) ct.substring(0, semi) else ct).trim.toLowerCase
    }
  }

  /** Decode one payload. `scope` namespaces blank-node labels so that
    * distinct events can never collide (blank identity is per-document
    * in RDF; the reference gets this from Jena's per-parse labels).
    */
  def decode(value: Array[Byte], contentType: String, scope: String,
      jsonLdContexts: Map[String, String] = Map.empty): Decoded = {
    val ct = normalize(contentType)
    try {
      val doc = new String(value, StandardCharsets.UTF_8)
      ct match {
        case CT_NQUADS =>
          Decoded("dataset", scopeBlanks(NQuadsParser.parse(doc, allowGraph = true), scope), null, null)
        case CT_NTRIPLES =>
          Decoded("dataset", scopeBlanks(NQuadsParser.parse(doc, allowGraph = false), scope), null, null)
        case CT_TURTLE | "application/x-turtle" =>
          Decoded("dataset", scopeBlanks(TurtleParser.parseTurtle(doc), scope), null, null)
        case CT_TRIG =>
          Decoded("dataset", scopeBlanks(TurtleParser.parseTrig(doc), scope), null, null)
        case CT_RDFXML =>
          Decoded("dataset", scopeBlanks(RdfXmlParser.parse(doc), scope), null, null)
        case CT_JSONLD | "application/json+ld" =>
          Decoded("dataset",
            scopeBlanks(JsonLdParser.parse(doc, jsonLdContexts), scope), null, null)
        case CT_PATCH | "text/rdf-patch" =>
          Decoded("patch", null, RdfPatchParser.parse(doc), null)
        case CT_SPARQL_UPDATE =>
          // validate now (parse errors must DLQ before any store
          // mutation); WHERE-driven ops need the live store state, so
          // the sink re-parses and resolves at apply time
          graft.sparql.SparqlUpdate.parse(doc)
          Decoded("update", null, null, null)
        case other =>
          Decoded(null, null, null, s"No RDF parser for content type '$other'")
      }
    } catch {
      case e: RdfParseException => Decoded(null, null, null, s"$ct: ${e.getMessage}")
      case e: Exception => Decoded(null, null, null, s"$ct: unexpected ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  private def scopeTerm(t: Term, scope: String): Term =
    if (t == null) t
    else if (t.isBlank) Term.blank(scope + ":" + t.lex)
    else if (t.isTriple) {
      // blanks EMBEDDED in a quoted triple must scope with their
      // asserted siblings, or `<< _:b … >>` and `_:b` in one event
      // would silently disconnect
      val (s, p, o) = NQuadsParser.components(t)
      Term.quoted(scopeTerm(s, scope), scopeTerm(p, scope), scopeTerm(o, scope))
    } else t

  private def scopeBlanks(quads: Seq[Quad], scope: String): Seq[Quad] =
    if (scope == null || scope.isEmpty) quads
    else quads.map(q => Quad(scopeTerm(q.graph, scope), scopeTerm(q.subject, scope),
      q.predicate, scopeTerm(q.obj, scope)))

  /** Row shape of the decoded event stream (documentation; the
    * DataFrame below is built from InternalRows with this schema).
    */
  final case class DecodedEvent(
      topic: String, partition: Int, offset: Long,
      key: Array[Byte], contentType: String,
      kind: String, quads: Seq[Quad], ops: Seq[PatchOp], _corrupt: String)

  private val TERM_SCHEMA = {
    import org.apache.spark.sql.types._
    StructType(Seq("termType", "lex", "datatype", "lang")
      .map(StructField(_, StringType)))
  }
  private val QUAD_SCHEMA = {
    import org.apache.spark.sql.types._
    StructType(Seq("graph", "subject", "predicate", "obj")
      .map(StructField(_, TERM_SCHEMA)))
  }
  private val PATCH_OP_SCHEMA = {
    import org.apache.spark.sql.types._
    StructType(StructField("op", StringType) +:
      Seq("graph", "subject", "predicate", "obj").map(StructField(_, TERM_SCHEMA)))
  }
  /** Schema of [[decodeEvents]]'s output — [[DecodedEvent]] as types. */
  val DECODED_SCHEMA: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("topic", StringType),
      StructField("partition", IntegerType, nullable = false),
      StructField("offset", LongType, nullable = false),
      StructField("key", BinaryType),
      StructField("contentType", StringType),
      StructField("kind", StringType),
      StructField("quads", ArrayType(QUAD_SCHEMA)),
      StructField("ops", ArrayType(PATCH_OP_SCHEMA)),
      StructField("_corrupt", StringType)))
  }

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private def termRow(t: Term): InternalRow =
    if (t == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(t.termType), UTF8String.fromString(t.lex),
      UTF8String.fromString(t.datatype), UTF8String.fromString(t.lang)))

  private def quadRow(q: Quad): InternalRow =
    new GenericInternalRow(Array[Any](termRow(q.graph), termRow(q.subject),
      termRow(q.predicate), termRow(q.obj)))

  private def opRow(o: PatchOp): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(o.op),
      termRow(o.graph), termRow(o.subject), termRow(o.predicate), termRow(o.obj)))

  /** DataFrame-level decode: input must have columns
    * (topic STRING, partition INT, offset LONG, key BINARY,
    *  value BINARY, contentType STRING); output has [[DECODED_SCHEMA]].
    * Runs as one mapPartitions pass, no shuffle; blank scope is the
    * event identity topic:partition:offset, making the decode
    * deterministic and hence safe under Spark task retry/epoch replay
    * (SURVEY.md §2.3 row 26 exactly-once note).
    *
    * The parser emits InternalRows directly (via
    * [[org.apache.spark.sql.graftbridge.InternalRows]]) instead of
    * round-tripping Seq[Quad] through the case-class
    * ExpressionEncoder: the serializer re-walked every nested Term
    * object per row (MapObjects loops), a per-quad cost the parser —
    * which already knows the exact output shape — need not pay. Same
    * rows, same schema; only the construction layer changes.
    *
    * Batch input only: the decode runs over the input's RDD, which a
    * streaming DataFrame does not have. A streaming caller decodes each
    * micro-batch inside `foreachBatch` (as
    * [[graft.streaming.IngestPipeline]] does); a streaming `df` fails
    * here with an IllegalArgumentException.
    */
  def decodeEvents(df: DataFrame,
      jsonLdContexts: Map[String, String] = Map.empty): DataFrame = {
    require(!df.isStreaming, "RdfParse.decodeEvents takes a batch DataFrame; " +
      "decode a stream per micro-batch inside foreachBatch")
    val spark = df.sparkSession
    // the registry is a plain immutable map captured by the decode
    // closure — it ships once per task like any broadcast-small state
    val input = df.select(col("topic"), col("partition"), col("offset"),
      col("key"), col("value"), col("contentType"))
    val rdd = input.queryExecution.toRdd.mapPartitions { it =>
      it.map { row =>
        // copy what the closure retains: toRdd yields reused UnsafeRows
        // (getBinary and toString both copy; the output row is fresh)
        val topic = if (row.isNullAt(0)) null else row.getUTF8String(0).toString
        val part = row.getInt(1)
        val off = row.getLong(2)
        val key = if (row.isNullAt(3)) null else row.getBinary(3)
        val value = if (row.isNullAt(4)) null else row.getBinary(4)
        val ct = if (row.isNullAt(5)) null else row.getUTF8String(5).toString
        val scope = s"$topic:$part:$off"
        val d = decode(value, ct, scope, jsonLdContexts)
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(topic), part, off, key,
          UTF8String.fromString(ct), UTF8String.fromString(d.kind),
          if (d.quads == null) null
          else new GenericArrayData(d.quads.map(quadRow).toArray[Any]),
          if (d.ops == null) null
          else new GenericArrayData(d.ops.map(opRow).toArray[Any]),
          UTF8String.fromString(d._corrupt))): InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.InternalRows.toDataFrame(spark, rdd, DECODED_SCHEMA)
  }
}
