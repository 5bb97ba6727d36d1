package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks pass correct outputs and trip on corrupted ones. */
class ChecksSpec extends AnyFunSuite {

  // ---- parse ---------------------------------------------------------------

  private val parseDocs = Gen.parseDocs(11, 30)
  private val expected = parseDocs.map(d => d.name -> Checks.parseExpected(d.text)).toMap

  /** The output file the parse pass writes for `text`, built from the
    * single-document APIs. */
  private def parseOutput(text: String): String = {
    val frags = graft.functions.Fragments.detect(text)
    val records = frags.flatMap(f => graft.functions.Normalizer.normalize(f).map(d =>
      s"""{"format": "${f.format_type}", "start": ${f.start_index}, "end": ${f.end_index}, "data": $d}"""))
    val summary = frags.groupBy(_.format_type).map { case (k, v) => Json.str(k) + ": " + v.size }
    s"""{"converted": ${graft.api.Graft.convertText(text)}, "summary": ${summary.mkString("{", ", ", "}")}, """ +
      s""""records": ${records.map(Json.str).mkString("[", ", ", "]")}}"""
  }
  private val goodParse = parseDocs.map(d => d.name + ".json" -> parseOutput(d.text)).toMap

  test("parse: correct outputs pass") {
    assert(Checks.parseOutputs(expected, goodParse).isEmpty)
  }

  test("parse: a missing, an extra or a corrupted file trips the check") {
    val name = parseDocs.head.name + ".json"
    assert(Checks.parseOutputs(expected, goodParse - name).nonEmpty)
    assert(Checks.parseOutputs(expected, goodParse + ("stray.json" -> "{}")).nonEmpty)
    val withConvert = parseDocs.find(d => graft.api.Graft.convertText(d.text).length > 10).get.name + ".json"
    val corrupted = goodParse(withConvert).replaceFirst("\"converted\": \\{", "\"converted\": {\"x\": 1, ")
    assert(Checks.parseOutputs(expected, goodParse.updated(withConvert, corrupted)).exists(_.contains("convert")))
    assert(Checks.parseOutputs(expected, goodParse.updated(name, "not json")).nonEmpty)
  }

  // ---- curate --------------------------------------------------------------

  private val curDocs = Gen.curateCorpus(12, 2000)
  private val linkable = Checks.linkable(curDocs)
  private val goodCurate: Map[Long, String] = {
    val firstOfGroup = curDocs.collect { case d @ Gen.CurDoc(_, Gen.Exact(g), _, _) => g -> d.id }
      .groupBy(_._1).values.map(_.map(_._2).min).toSet
    curDocs.filter(d => d.kind match {
      case Gen.Junk => false
      case Gen.Exact(_) => firstOfGroup(d.id)
      case _ => true
    }).map(d => d.id -> d.expected).toMap
  }

  test("curate: correct outputs pass") {
    assert(Checks.curateOutputs(curDocs, linkable, goodCurate).isEmpty)
  }

  test("curate: a kept junk doc, a second exact copy, a lost doc or a changed text trips the check") {
    val junk = curDocs.find(_.kind == Gen.Junk).get
    val copy = curDocs.collect { case d @ Gen.CurDoc(_, Gen.Exact(_), _, _) if !goodCurate.contains(d.id) => d }.head
    val single = curDocs.find(d => d.kind == Gen.Single && !linkable(d.id)).get
    assert(Checks.curateOutputs(curDocs, linkable, goodCurate + (junk.id -> junk.expected)).nonEmpty)
    assert(Checks.curateOutputs(curDocs, linkable, goodCurate + (copy.id -> copy.expected)).nonEmpty)
    assert(Checks.curateOutputs(curDocs, linkable, goodCurate - single.id).nonEmpty)
    assert(Checks.curateOutputs(curDocs, linkable, goodCurate.updated(single.id, single.raw + " x")).nonEmpty)
    val cluster = curDocs.collect { case d @ Gen.CurDoc(_, Gen.Near(c), _, _) if !linkable(d.id) => c }.head
    val members = curDocs.collect { case d @ Gen.CurDoc(_, Gen.Near(`cluster`), _, _) => d.id }
    assert(Checks.curateOutputs(curDocs, linkable, goodCurate -- members).nonEmpty)
  }

  test("curate: most documents are not linkable, so the exemption stays narrow") {
    assert(linkable.size < curDocs.size / 10)
  }
}
