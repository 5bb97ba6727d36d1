package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Output checks. Each returns the list of violations it found; an empty
  * list means the unit's output is correct. */
object Checks {
  private val mapper = new ObjectMapper()

  // ---- parse ---------------------------------------------------------------

  /** What one parse-pass output file must hold for one input file, from
    * the program's single-document APIs (`Graft.parseFile`,
    * `Graft.convertText`). */
  final case class ParseExpected(converted: JsonNode, summary: Map[String, Int],
      records: Seq[JsonNode], spans: Seq[(String, Int, Int)])

  def parseExpected(text: String): ParseExpected = {
    val (frags, summary, records) = graft.api.Graft.parseFile(text)
    ParseExpected(mapper.readTree(graft.api.Graft.convertText(text)), summary,
      records.map(r => mapper.readTree(r)), frags.map(f => (f.format_type, f.start_index, f.end_index)))
  }

  /** `outputs` maps written file name to content; every input file
    * `x.txt` must have exactly one output `x.txt.json` holding the
    * converted document, the fragment summary and the records. */
  def parseOutputs(expected: Map[String, ParseExpected], outputs: Map[String, String]): Seq[String] = {
    val want = expected.keySet.map(_ + ".json")
    val missing = (want -- outputs.keySet).toSeq.sorted.map(n => s"parse: no output for $n")
    val extra = (outputs.keySet -- want).toSeq.sorted.map(n => s"parse: unexpected output $n")
    val content = expected.toSeq.sortBy(_._1).flatMap { case (name, e) =>
      outputs.get(name + ".json").toSeq.flatMap(out => parseOne(name, e, out))
    }
    missing ++ extra ++ content
  }

  private def parseOne(name: String, e: ParseExpected, out: String): Seq[String] =
    scala.util.Try(mapper.readTree(out)).toOption match {
      case None => Seq(s"parse: $name: output is not JSON")
      case Some(doc) =>
        val summary = Option(doc.get("summary")).map(_.fields().asScala
          .map(f => f.getKey -> f.getValue.asInt()).toMap).getOrElse(Map.empty)
        val recs = Option(doc.get("records")).map(_.elements().asScala
          .map(r => mapper.readTree(r.asText())).toSeq).getOrElse(Nil)
        val recSpans = recs.map(r => (r.path("format").asText(), r.path("start").asInt(), r.path("end").asInt()))
        Seq(
          (doc.get("converted") != e.converted) -> "convert differs from Graft.convertText",
          (summary != e.summary) -> "summary differs from Graft.parseFile",
          (recs.map(_.get("data")) != e.records) -> "records differ from Graft.parseFile",
          !isSubsequence(recSpans, e.spans) -> "record spans are not fragments of Graft.parseFile",
        ).collect { case (true, msg) => s"parse: $name: $msg" }
    }

  private def isSubsequence[T](xs: Seq[T], of: Seq[T]): Boolean = {
    val it = of.iterator
    xs.forall(x => it.exists(_ == x))
  }

  // ---- curate --------------------------------------------------------------

  /** Word 3-grams of a single-spaced text, hashed to 64 bits. MinHash can
    * only link two documents that share one of these. */
  def shingles(text: String): Array[Long] = {
    val w = text.split(" ")
    if (w.length < 3) Array(hash64(text))
    else Array.tabulate(w.length - 2)(i => hash64(w(i) + " " + w(i + 1) + " " + w(i + 2)))
  }

  private def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Ids of the non-junk documents that share a word 3-gram (of their
    * expected text) with a document outside their planted group: the
    * only documents banded MinHash may link to a stranger. */
  def linkable(docs: Seq[Gen.CurDoc]): Set[Long] = {
    def group(d: Gen.CurDoc): Long = d.kind match {
      case Gen.Exact(g) => -2L - 2 * g
      case Gen.Near(c) => -3L - 2 * c
      case _ => d.id
    }
    val good = docs.filter(_.kind != Gen.Junk)
    val owner = scala.collection.mutable.LongMap.empty[Long]
    val Shared = Long.MinValue
    good.foreach { d =>
      val g = group(d)
      shingles(d.expected).foreach { h =>
        owner.get(h) match {
          case None => owner(h) = g
          case Some(o) if o != g => owner(h) = Shared
          case _ =>
        }
      }
    }
    val hit = good.filter(d => shingles(d.expected).exists(h => owner(h) == Shared))
    val groups = hit.map(group).toSet
    good.filter(d => groups(group(d))).map(_.id).toSet
  }

  /** `out` maps written doc id to its curated text. Junk never survives;
    * every exact-duplicate group keeps exactly one copy; every
    * near-duplicate cluster keeps at least one member; every other good
    * document survives; every survivor carries its expected text. A
    * document (or group) in `linkable` may also lose to a stranger it
    * shares a 3-gram with: banded MinHash links such pairs with a small
    * probability, by design. */
  def curateOutputs(docs: Seq[Gen.CurDoc], linkable: Set[Long], out: Map[Long, String]): Seq[String] = {
    val byId = docs.map(d => d.id -> d).toMap
    val unknown = out.keys.filterNot(byId.contains).toSeq.sorted.map(id => s"curate: unknown id $id")
    val perDoc = docs.flatMap { d =>
      (d.kind, out.get(d.id)) match {
        case (Gen.Junk, Some(_)) => Seq(s"curate: junk doc ${d.id} kept")
        case (Gen.Single, None) if !linkable(d.id) => Seq(s"curate: doc ${d.id} lost")
        case (_, Some(t)) if t != d.expected => Seq(s"curate: doc ${d.id} text differs from expected")
        case _ => Nil
      }
    }
    val groups = docs.collect { case d @ Gen.CurDoc(_, Gen.Exact(g), _, _) => g -> d.id }
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, ids) =>
        val kept = ids.count(p => out.contains(p._2))
        if (kept == 1 || (kept == 0 && linkable(ids.head._2))) Nil
        else Seq(s"curate: exact group $g kept $kept copies")
      }
    val clusters = docs.collect { case d @ Gen.CurDoc(_, Gen.Near(c), _, _) => c -> d.id }
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (c, ids) =>
        if (ids.exists(p => out.contains(p._2)) || linkable(ids.head._2)) Nil
        else Seq(s"curate: near cluster $c lost every member")
      }
    unknown ++ perDoc ++ groups ++ clusters
  }
}
