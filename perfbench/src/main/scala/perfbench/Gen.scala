package perfbench

import java.text.Normalizer
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every generator is a pure function of its
  * seed (one `SplittableRandom` stream per generator, never shared), so
  * the same seed gives the same documents, byte for byte. */
object Gen {

  // ---- shared helpers ------------------------------------------------------

  // no c, j, q, x, z: no random word spells a converter section keyword
  // ("json", "ocr", "csv", "code", "sql")
  private val Letters = "abdefghiklmnoprstuvwy"
  private val Accents = Array("é", "ü", "ñ", "è", "ç")

  /** A pseudo-word vocabulary: lowercase ASCII words of 3-9 letters,
    * with ~3% carrying one accented letter (stored in NFC form). */
  def vocabulary(rng: SplittableRandom, size: Int): Array[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = ArrayBuffer.empty[String]
    while (out.size < size) {
      val n = 3 + rng.nextInt(7)
      val sb = new StringBuilder
      for (_ <- 0 until n) sb.append(Letters.charAt(rng.nextInt(Letters.length)))
      if (rng.nextInt(100) < 3) sb.setCharAt(rng.nextInt(n), Accents(rng.nextInt(Accents.length)).charAt(0))
      val w = sb.toString
      if (w != "the" && w != "a" && seen.add(w)) out += w
    }
    out.toArray
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => math.pow(k + 1.0, -s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Log-normal integer with the given median, clamped to [lo, hi]. */
  def logNormal(rng: SplittableRandom, median: Double, sigma: Double, lo: Int, hi: Int): Int = {
    // Box-Muller on the stream's own doubles keeps the draw deterministic
    val u1 = math.max(rng.nextDouble(), 1e-12)
    val z = math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
    math.max(lo, math.min(hi, math.round(median * math.exp(sigma * z)).toInt))
  }

  /** Word soup: content words by a Zipf(0.5) law over `vocab`, and the
    * stopwords "the" and "a" (~8% of tokens, at least two content words
    * apart, so every word 3-gram holds two content words). Documents
    * open with "the" and hold at most 10% accented words, so every one
    * passes the Gopher rules. */
  final class Words(rng: SplittableRandom, vocab: Array[String]) {
    private val zipf = new Zipf(vocab.length, 0.5)
    def word(): String = vocab(zipf.sample(rng))
    def doc(len: Int): Vector[String] = {
      val out = Vector.newBuilder[String]
      out += "the"
      var sinceStop = 0
      var accented = 0
      for (_ <- 1 until len) {
        val r = if (sinceStop < 2) 100 else rng.nextInt(100)
        var w = if (r < 7) "the" else if (r < 10) "a" else word()
        while (!w.forall(_ < 128) && 10 * (accented + 1) > len) w = word()
        if (!w.forall(_ < 128)) accented += 1
        out += w
        sinceStop = if (r < 10) 0 else sinceStop + 1
      }
      out.result()
    }
  }

  // ---- parse: messy multi-format documents ---------------------------------

  final case class TextFile(name: String, text: String)

  /** `n` documents mixing the pieces of all twelve fragment types and
    * `---` sections after an opening line of text. The documents' shapes
    * (piece count, log-normal with median 24, and each piece's type) are
    * one sample shared by every seed, which the seed permutes and fills
    * with its own words and numbers: 125 files span roughly 0.5 KB to
    * 14 KB (median 2 KB), and the work per pass hardly varies across
    * seeds.
    *
    * The converter splits a document with `---` into sections and takes
    * each section's first line as its title; a title naming JSON merges
    * the section body into the result and raises when the body does not
    * parse as a JSON object. Titles here are therefore an opening text
    * line, a YAML key line, or a section header, and JSON-titled
    * sections carry a JSON object. */
  def parseDocs(seed: Long, n: Int): Seq[TextFile] = {
    val rng = new SplittableRandom(seed ^ 0x5041525345L)
    val words = vocabulary(rng, 2000).filter(_.forall(_ < 128))
    val p = new Pieces(rng, words)
    val shared = new SplittableRandom(0x5041525345L)
    val shapes = Vector.fill(n)(Vector.fill(logNormal(shared, 24, 0.8, 2, 240))(p.kind(shared)))
    new scala.util.Random(rng.nextLong()).shuffle(shapes).zipWithIndex.map { case (kinds, i) =>
      TextFile(f"doc_$i%05d.txt", (p.raw() +: kinds.map(k => p.piece(k))).mkString("\n\n") + "\n")
    }
  }

  private final class Pieces(rng: SplittableRandom, vocab: Array[String]) {
    private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    private def int(lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)
    private def words(lo: Int, hi: Int): String = Seq.fill(int(lo, hi))(pick(vocab)).mkString(" ")

    def json(): String = {
      val keys = new scala.util.Random(rng.nextLong())
        .shuffle(Seq("id", "name", "price", "tags", "meta", "ok")).take(int(2, 4))
      keys.map { k =>
        val v = pick(Seq(int(0, 999).toString, "\"" + words(1, 2) + "\"",
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(rng.nextDouble() * 99)), "true", "false", "null", "[\"a\", \"b\"]",
          "{\"x\": 1, \"y\": \"z\"}", "\"brace } inside\""))
        "\"" + k + "\": " + v
      }.mkString("{", ", ", "}")
    }
    def malformed(): String = pick(Seq(
      s"{'state': 'on', 'n': ${int(1, 99)},}", "{\"a\": 1, \"b\": 2,}",
      s"{mode: 'fast', level: ${int(1, 9)}}", "{\"x\": 01, \"y\": \"ok\"}",
      s"{unquoted: yes, other: \"${words(1, 2)}\"}",
      s"""{"${words(1, 1)}": ${int(1, 99)}, "state": "open""""))
    def jsonLd(): String =
      "<script type=\"application/ld+json\">\n" + (if (rng.nextBoolean()) json() else malformed()) + "\n</script>"
    def yaml(): String =
      Seq.fill(int(2, 5))(pick(Seq("title", "author", "date", "layout", "tag")) + ": " + words(1, 3))
        .mkString("---\n", "\n", "\n---\n") + raw()
    def section(): String = {
      val title = pick(Seq("USERS", "CONFIG", "METRICS", "USERS JSON", "RAW JSON DUMP"))
      "--- " + title + "\n" + (if (title.contains("JSON")) json() else pick(Seq(json _, malformed _, kv _, csv _))())
    }
    def htmlTable(): String = {
      val cols = Seq.fill(int(2, 3))(words(1, 1).capitalize)
      val head = cols.map(c => s"<th>$c</th>").mkString
      val rows = Seq.fill(int(1, 4))(cols.map(_ =>
        "<td>" + pick(Seq(words(1, 2), int(0, 99).toString, "A&amp;B", "x &lt; y")) + "</td>").mkString("<tr>", "", "</tr>"))
      if (rng.nextInt(10) < 4) s"<table><thead><tr>$head</tr></thead>${rows.mkString}</table>"
      else s"<table><tr>$head</tr>${rows.mkString}</table>"
    }
    def html(): String = s"""<div class="card"><p>${words(3, 8)}</p><span>${words(1, 3)}</span></div>"""
    def csv(): String = {
      val d = pick(Seq(",", ",", ";", "\t"))
      val cols = Seq("name", "qty", "code").take(int(2, 3))
      val header = if (rng.nextInt(10) < 7) Seq(cols.mkString(d)) else Nil
      (header ++ Seq.fill(int(2, 6))(cols.map(_ =>
        pick(Seq(words(1, 1), int(0, 999).toString, "N/A"))).mkString(d))).mkString("\n")
    }
    def csvNoHeader(): String =
      Seq.fill(int(3, 6))(Seq(int(0, 99), int(100, 999), int(0, 9)).mkString(",")).mkString("\n")
    def kv(): String = {
      val sep = pick(Seq(": ", ": ", " = "))
      Seq.fill(int(3, 5))(pick(Seq("host", "port", "user", "retries", "mode")) + sep +
        pick(Seq(words(1, 2), int(0, 9999).toString, "\"quoted value\""))).mkString("\n")
    }
    def js(): String = s"var config = ${if (rng.nextBoolean()) json() else malformed()};"
    def sql(): String = pick(Seq(
      s"SELECT id, name FROM users WHERE id = ${int(1, 99)};",
      s"INSERT INTO logs (msg) VALUES ('${words(1, 3)}');",
      s"UPDATE t SET n = ${int(1, 99)} WHERE k = 'a';",
      s"DELETE FROM cache WHERE ts < ${int(1000, 9999)};"))
    def raw(): String = words(6, 30) + pick(Seq(".", "!", ""))

    private val all: IndexedSeq[() => String] = IndexedSeq(json _, malformed _, jsonLd _, yaml _,
      section _, htmlTable _, html _, csv _, csvNoHeader _, kv _, js _, sql _, raw _, raw _)
    /** A piece type, drawn from `from`. */
    def kind(from: SplittableRandom): Int = from.nextInt(all.size)
    def piece(kind: Int): String = all(kind)()
  }

  // ---- curate: word-soup corpus with planted duplicates --------------------

  sealed trait Kind
  case object Single extends Kind
  final case class Exact(group: Int) extends Kind
  final case class Near(cluster: Int) extends Kind
  case object Junk extends Kind

  /** One corpus document: `raw` is what the program reads; `expected`
    * is the text the curated output must carry for it (NFC, single
    * spaces, boilerplate lines removed). */
  final case class CurDoc(id: Long, kind: Kind, raw: String, expected: String)

  /** Line length of the curation pipeline's line dedup, and the
    * distinct-doc count from which a line counts as boilerplate. */
  val LineTokens = 10
  val BoilerMinDocs = 10

  /** About `n` documents: ~4% junk that the Gopher rules reject, ~3.5% in
    * exact-duplicate groups of 2-5 (copies differ only in whitespace
    * and Unicode composition), ~4% in near-duplicate clusters of 2-6
    * (one or two substituted words), and a quarter of the rest carrying
    * one of a pool of boilerplate lines, each shared by at least
    * `BoilerMinDocs + 2` documents. Document lengths are log-normal (median 120
    * tokens) drawn by [[Words]].
    *
    * The words and the structure are one sample shared by every seed:
    * which documents share a word 3-gram decides the near-duplicate
    * graph, and with it how many connected-components supersteps (two
    * jobs each) a pass runs, so seed-drawn words made the work per pass
    * differ by a quarter of its jobs between seeds. The seed renders
    * the documents (Unicode composition, doubled and trailing spaces),
    * which the pipeline's normalization erases. */
  def curateCorpus(seed: Long, n: Int): Seq[CurDoc] = {
    val rng = new SplittableRandom(0x4355524154L)
    val render = new SplittableRandom(seed ^ 0x4355524154L)
    val vocab = vocabulary(rng, 60000)
    val words = new Words(rng, vocab)
    def content(): String = words.word()
    def body(): Vector[String] = words.doc(logNormal(rng, 120, 0.5, 30, 600))
    val nBoiler = math.max(1, math.min(30, n / 60))
    val boiler = Vector.fill(nBoiler)(Vector.fill(LineTokens)(vocab(rng.nextInt(vocab.length))))
    val docs = ArrayBuffer.empty[CurDoc]
    var id = 0L
    def nextId(): Long = { val i = id; id += 1; i }
    // boilerplate assignment: every block gets BoilerMinDocs + 2 carriers
    // first, the remaining carriers draw blocks by Zipf rank
    val boilerZipf = new Zipf(nBoiler, 1.0)
    var boilerQuota = Vector.tabulate(nBoiler)(b => Vector.fill(BoilerMinDocs + 2)(b)).flatten
    def maybeBoiler(): Option[Int] =
      if (boilerQuota.nonEmpty) { val b = boilerQuota.head; boilerQuota = boilerQuota.tail; Some(b) }
      else if (rng.nextInt(4) == 0) Some(boilerZipf.sample(rng)) else None
    /** token blocks of a good document, a boilerplate block inserted at a
      * block boundary */
    def blocks(tokens: Vector[String], b: Option[Int]): Vector[Vector[String]] = {
      val bl = tokens.grouped(LineTokens).toVector
      // before an existing block, so every block ahead of it is full-length
      b.fold(bl) { k => val at = rng.nextInt(bl.size); (bl.take(at) :+ boiler(k)) ++ bl.drop(at) }
    }
    def expectedOf(bl: Vector[Vector[String]]): String =
      bl.filterNot(boiler.contains).flatten.mkString(" ")
    def rawOf(bl: Vector[Vector[String]]): String = {
      val toks = bl.flatten
      val decompose = render.nextBoolean()
      val sb = new StringBuilder
      toks.zipWithIndex.foreach { case (t, i) =>
        if (i > 0) sb.append(if (render.nextInt(40) == 0) "  " else " ")
        sb.append(if (decompose) Normalizer.normalize(t, Normalizer.Form.NFD) else t)
      }
      if (render.nextInt(10) == 0) sb.append(" ")
      sb.toString
    }
    var group = 0
    var cluster = 0
    while (docs.size < n) {
      val r = rng.nextInt(1000)
      if (r < 40) {
        val toks = Vector.tabulate(logNormal(rng, 80, 0.4, 20, 300))(i =>
          if (i % 2 == 0) (rng.nextInt(100000)).toString else content())
        docs += CurDoc(nextId(), Junk, toks.mkString(" "), "")
      } else if (r < 50) {
        val bl = blocks(body(), maybeBoiler())
        val copies = 2 + rng.nextInt(4)
        for (_ <- 0 until copies) docs += CurDoc(nextId(), Exact(group), rawOf(bl), expectedOf(bl))
        group += 1
      } else if (r < 60) {
        val base = body()
        val b = maybeBoiler()
        val members = 2 + rng.nextInt(5)
        for (m <- 0 until members) {
          val toks = if (m == 0) base else {
            var t = base
            for (_ <- 0 until 1 + rng.nextInt(2)) t = t.updated(1 + rng.nextInt(t.size - 1), vocab(rng.nextInt(vocab.length)))
            t
          }
          val bl = blocks(toks, b)
          docs += CurDoc(nextId(), Near(cluster), rawOf(bl), expectedOf(bl))
        }
        cluster += 1
      } else {
        val bl = blocks(body(), maybeBoiler())
        docs += CurDoc(nextId(), Single, rawOf(bl), expectedOf(bl))
      }
    }
    docs.toSeq
  }
}
