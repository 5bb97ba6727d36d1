package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("parse documents: same seed, same bytes; another seed, other bytes") {
    assert(Gen.parseDocs(7, 50) == Gen.parseDocs(7, 50))
    assert(Gen.parseDocs(7, 50).map(_.text) != Gen.parseDocs(8, 50).map(_.text))
  }

  test("parse documents reach every reachable fragment type, and --- sections") {
    val docs = Gen.parseDocs(1, 200)
    val types = docs.flatMap(d => graft.functions.Fragments.detect(d.text).map(_.format_type)).toSet
    // JS_OBJECT is shadowed in the detector cascade: the global JSON scan
    // claims every brace span first, so `var x = {...}` reports JSON
    assert(types == graft.functions.Fragments.FormatPriority.toSet - "JS_OBJECT")
    assert(docs.exists(_.text.contains("\n\n--- ")))
  }

  test("curate corpus: same seed, same documents; planted kinds present") {
    val a = Gen.curateCorpus(3, 2000)
    assert(a == Gen.curateCorpus(3, 2000))
    assert(a.map(_.raw) != Gen.curateCorpus(4, 2000).map(_.raw))
    assert(a.map(_.id) == a.indices.map(_.toLong))
    val kinds = a.map(_.kind)
    assert(kinds.contains(Gen.Junk) && kinds.contains(Gen.Single))
    assert(kinds.exists(_.isInstanceOf[Gen.Exact]) && kinds.exists(_.isInstanceOf[Gen.Near]))
  }

  test("curate corpus: exact copies differ in bytes but normalize to one text") {
    val groups = Gen.curateCorpus(5, 3000).collect { case d @ Gen.CurDoc(_, Gen.Exact(g), _, _) => g -> d }
      .groupBy(_._1).values.map(_.map(_._2))
    assert(groups.forall(_.map(_.expected).distinct.size == 1))
    assert(groups.exists(_.map(_.raw).distinct.size > 1))
  }

  test("curate corpus: every boilerplate line is shared by enough documents to be removed") {
    val docs = Gen.curateCorpus(6, 3000).filter(_.kind != Gen.Junk)
    val lines = docs.flatMap { d =>
      java.text.Normalizer.normalize(d.raw, java.text.Normalizer.Form.NFC).trim.split(" +")
        .grouped(Gen.LineTokens).filter(_.length == Gen.LineTokens).map(_.mkString(" ")).toSeq.distinct
        .map(_ -> d.id)
    }
    val removed = lines.groupBy(_._1).filter(_._2.size >= Gen.BoilerMinDocs).keySet
    assert(removed.nonEmpty)
    // what the generator expects the line dedup to leave is exactly the
    // text minus those lines
    docs.take(300).foreach { d =>
      val toks = java.text.Normalizer.normalize(d.raw, java.text.Normalizer.Form.NFC).trim.split(" +")
      val kept = toks.grouped(Gen.LineTokens).filterNot(b => removed(b.mkString(" "))).flatten.mkString(" ")
      assert(kept == d.expected, s"doc ${d.id}")
    }
  }
}
