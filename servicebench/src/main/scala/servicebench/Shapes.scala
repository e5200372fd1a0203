package servicebench

import java.util.BitSet

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A SPARQL SELECT answer with every binding in N-Triples form
  * (`<iri>`, `"lex"`, `"lex"^^<dt>`, `"lex"@lang`, `_:b`).
  */
final case class Answer(vars: Seq[String], rows: IndexedSeq[Map[String, String]]) {
  def column(v: String): IndexedSeq[String] = rows.map(_.getOrElse(v, ""))
}

object Answer {
  private val mapper = new ObjectMapper()

  private def term(n: JsonNode): String = {
    val v = n.get("value").asText()
    n.get("type").asText() match {
      case "uri" => s"<$v>"
      case "bnode" => s"_:$v"
      case _ =>
        if (n.has("xml:lang")) s""""$v"@${n.get("xml:lang").asText()}"""
        else if (n.has("datatype")) s""""$v"^^<${n.get("datatype").asText()}>"""
        else s""""$v""""
    }
  }

  /** Parse an `application/sparql-results+json` document. */
  def parseJson(body: String): Answer = {
    val root = mapper.readTree(body)
    val vars = Vector.newBuilder[String]
    root.get("head").get("vars").elements().forEachRemaining(v => vars += v.asText())
    val rows = Vector.newBuilder[Map[String, String]]
    root.get("results").get("bindings").elements().forEachRemaining { b =>
      val m = Map.newBuilder[String, String]
      b.fields().forEachRemaining(e => m += e.getKey -> term(e.getValue))
      rows += m.result()
    }
    Answer(vars.result(), rows.result())
  }

  /** A SELECT DataFrame collected in the same N-Triples form. */
  def fromRows(vars: Seq[String], rows: Array[org.apache.spark.sql.Row]): Answer =
    Answer(vars, rows.toIndexedSeq.map { r =>
      vars.indices.flatMap { i =>
        if (r.isNullAt(i)) None
        else r.get(i) match {
          case t: org.apache.spark.sql.Row => Some(vars(i) -> termNt(t))
          case v => Some(vars(i) -> s""""$v"""") // an aggregate's plain value
        }
      }.toMap
    })

  private def termNt(t: org.apache.spark.sql.Row): String = {
    val lex = t.getAs[String]("lex")
    t.getAs[String]("termType") match {
      case "iri" => s"<$lex>"
      case "blank" => s"_:$lex"
      case _ =>
        val lang = t.getAs[String]("lang")
        val dt = t.getAs[String]("datatype")
        if (lang != null) s""""$lex"@$lang"""
        else if (dt != null && dt != graft.rdf.Term.XSD_STRING) s""""$lex"^^<$dt>"""
        else s""""$lex""""
    }
  }

  /** The lexical form of a literal in N-Triples form. */
  def lex(nt: String): String = nt.substring(1, nt.lastIndexOf('"'))
  def number(nt: String): BigDecimal = BigDecimal(lex(nt))
}

/** One query shape of the mix, with its expected answer. */
final case class Shape(name: String, query: String, check: Answer => Option[String])

/** The seven query shapes and their answers over the facts a store
  * holds, computed by the model. Every shape parses and runs on the
  * engine; SUM is compared by numeric value because the engine returns
  * a decimal form for a sum over `xsd:integer`.
  */
final class Shapes(u: Universe, facts: BitSet) {
  import Universe._

  private def has(i: Int, kind: Int): Boolean = facts.get(i * 5 + kind)
  private def e(i: Int) = s"<$E$i>"
  private def valLit(i: Int) = s""""${u.value(i)}"^^<$XsdInteger>"""

  val pointEntity: Int = if (u.entities > 200) 123 else u.entities / 2
  val pathRoot: Int = if (u.entities > 40) 5 else 1
  val OptionalLimit = 100
  val ScanLimit = 50000

  def expectedCount: Long = facts.cardinality().toLong

  /** Check a count answer: exactly one row holding `expected`. */
  def checkCount(a: Answer, expected: Long): Option[String] =
    if (a.rows.size != 1) Some(s"count: ${a.rows.size} rows")
    else {
      val got = Answer.number(a.rows(0)("c")).toLong
      if (got == expected) None else Some(s"count: got $got, expected $expected")
    }

  private def entities(p: Int => Boolean): Iterator[Int] =
    Iterator.range(0, u.entities).filter(p)

  private def sameSet(name: String, got: IndexedSeq[String], want: Set[String]): Option[String] =
    if (got.size != got.distinct.size) Some(s"$name: duplicate rows")
    else if (got.toSet != want) Some(s"$name: ${got.size} rows differ from the model's ${want.size}")
    else None

  /** Rows of a LIMIT query: distinct, all from the full answer, and as
    * many as the limit allows.
    */
  private def limited(name: String, got: IndexedSeq[String], want: Set[String],
      limit: Int): Option[String] =
    if (got.size != math.min(limit, want.size))
      Some(s"$name: ${got.size} rows, expected ${math.min(limit, want.size)}")
    else if (got.size != got.distinct.size) Some(s"$name: duplicate rows")
    else got.find(r => !want.contains(r)).map(r => s"$name: unexpected row $r")

  private def pairs(a: Answer, x: String, y: String): IndexedSeq[String] =
    a.rows.map(r => r.getOrElse(x, "") + " " + r.getOrElse(y, ""))

  val all: Seq[Shape] = {
    val count = Shape("count", Shapes.CountQuery, a => checkCount(a, expectedCount))

    val point = {
      val i = pointEntity
      val want = Seq(
        0 -> (s"<$RdfType>", s"<$C${u.cls(i)}>"),
        1 -> (s"<$Val>", valLit(i)),
        3 -> (s"<$PartOf>", e(u.parent(i))),
        4 -> (s"<$Link>", e(u.link(i))))
        .collect { case (k, (p, o)) if has(i, k) => s"$p $o" }.toSet
      Shape("point", s"SELECT ?p ?o { ${e(i)} ?p ?o }",
        a => sameSet("point", pairs(a, "p", "o"), want))
    }

    val joinAgg = {
      val want = entities(i => has(i, 0) && has(i, 1) && u.value(i) < 500).toSeq
        .groupBy(u.cls).map { case (c, is) =>
          s"<$C$c>" -> (is.size.toLong, BigDecimal(is.map(u.value(_).toLong).sum))
        }
      Shape("join_agg",
        s"SELECT ?c (COUNT(*) AS ?n) (SUM(?v) AS ?sum) " +
          s"{ ?e a ?c . ?e <$Val> ?v FILTER(?v < 500) } GROUP BY ?c",
        a => {
          val got = a.rows.map(r =>
            r("c") -> (Answer.number(r("n")).toLong, Answer.number(r("sum"))))
          if (got.size != want.size || got.toMap != want)
            Some(s"join_agg: ${got.size} groups differ from the model's ${want.size}")
          else None
        })
    }

    val path = {
      val children = Array.fill(u.entities)(List.empty[Int])
      entities(i => i > 0 && has(i, 3)).foreach { i =>
        children(u.parent(i)) = i :: children(u.parent(i))
      }
      val seen = scala.collection.mutable.Set[Int]()
      var frontier = children(pathRoot)
      while (frontier.nonEmpty) {
        val next = frontier.filter(seen.add).flatMap(children(_))
        frontier = next
      }
      val want = seen.map(e).toSet
      Shape("path", s"SELECT ?d { ?d <$PartOf>+ ${e(pathRoot)} }",
        a => sameSet("path", a.column("d"), want))
    }

    val optional = {
      val want = entities(i => has(i, 0) && u.cls(i) == 3)
        .map(i => e(i) + " " + (if (has(i, 2)) s""""n$i"""" else "")).toSet
      Shape("optional",
        s"SELECT ?e ?n { ?e a <${C}3> OPTIONAL { GRAPH ?g { ?e <$Name> ?n } } } " +
          s"LIMIT $OptionalLimit",
        a => limited("optional", pairs(a, "e", "n"), want, OptionalLimit))
    }

    val link2 = {
      val want = entities(i => has(i, 4)).flatMap { i =>
        val b = u.link(i)
        if (!has(b, 4)) None
        else {
          val c = u.link(b)
          if (has(c, 0) && u.cls(c) == 7) Some(e(i) + " " + e(c)) else None
        }
      }.toSet
      Shape("link2",
        s"SELECT ?a ?c { ?a <$Link> ?b . ?b <$Link> ?c . ?c a <${C}7> }",
        a => sameSet("link2", pairs(a, "a", "c"), want))
    }

    val scan = {
      val want = entities(i => has(i, 1)).map(i => e(i) + " " + valLit(i)).toSet
      Shape("scan_rows", s"SELECT ?e ?v { ?e <$Val> ?v } LIMIT $ScanLimit",
        a => limited("scan_rows", pairs(a, "e", "v"), want, ScanLimit))
    }

    Seq(count, point, joinAgg, path, optional, link2, scan)
  }
}

object Shapes {
  val CountQuery: String =
    "SELECT (COUNT(*) AS ?c) { { ?s ?p ?o } UNION { GRAPH ?g { ?s ?p ?o } } }"
  val Names: Seq[String] =
    Seq("count", "point", "join_agg", "path", "optional", "link2", "scan_rows")
}
