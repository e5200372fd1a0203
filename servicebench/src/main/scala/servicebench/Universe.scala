package servicebench

import java.nio.charset.StandardCharsets

/** The seeded graph every workload draws its events from, and the
  * plain-Scala model that checks the engine's answers.
  *
  * Entity `i` has up to five facts, numbered `5 * i + kind`:
  *  - 0: `rdf:type` one of 20 classes (default graph)
  *  - 1: `val`, an `xsd:integer` in [0, 1000) (default graph)
  *  - 2: `name`, a plain literal in one of 8 named graphs
  *  - 3: `partOf` its parent in a 4-ary tree, `(i - 1) / 4` (none for e0)
  *  - 4: `link` its image under a seeded permutation (default graph)
  *
  * Events carry facts in stream order (entity by entity, kind by kind),
  * so the set of facts a store holds is always described by a bit set
  * over fact ids, which is all the model needs.
  */
final class Universe(val entities: Int, seed: Long) {
  import Universe._

  private val rng = new java.util.Random(seed)
  val cls: Array[Int] = Array.fill(entities)(rng.nextInt(Classes))
  val value: Array[Int] = Array.fill(entities)(rng.nextInt(1000))
  val link: Array[Int] = {
    val a = Array.tabulate(entities)(identity)
    var i = entities - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def parent(i: Int): Int = (i - 1) / 4
  def factIds: Long = entities.toLong * 5

  /** Fact ids in stream order (e0 has no `partOf`). */
  def stream: Iterator[Long] =
    Iterator.range(0L, factIds).filter(f => f != 3L)

  /** One fact as an N-Quads statement, without the trailing " .". */
  def statement(f: Long): String = {
    val i = (f / 5).toInt
    (f % 5).toInt match {
      case 0 => s"<${E}$i> <$RdfType> <${C}${cls(i)}>"
      case 1 => s"<${E}$i> <$Val> \"${value(i)}\"^^<$XsdInteger>"
      case 2 => s"<${E}$i> <$Name> \"n$i\" <${G}${i % 8}>"
      case 3 => s"<${E}$i> <$PartOf> <${E}${parent(i)}>"
      case _ => s"<${E}$i> <$Link> <${E}${link(i)}>"
    }
  }

  def nquads(facts: Seq[Long]): Array[Byte] = {
    val sb = new StringBuilder
    facts.foreach(f => sb.append(statement(f)).append(" .\n"))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** One RDF Patch transaction: add `adds`, delete `deletes`. */
  def patch(adds: Seq[Long], deletes: Seq[Long]): Array[Byte] = {
    val sb = new StringBuilder("TX .\n")
    adds.foreach(f => sb.append("A ").append(statement(f)).append(" .\n"))
    deletes.foreach(f => sb.append("D ").append(statement(f)).append(" .\n"))
    sb.append("TC .\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}

object Universe {
  val Classes = 20
  val E = "http://x/e"
  val C = "http://x/C"
  val G = "http://x/g"
  val Val = "http://x/val"
  val Name = "http://x/name"
  val PartOf = "http://x/partOf"
  val Link = "http://x/link"
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"
}
