package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.CorpusStats

/** B64–B67 — the corpus-statistics additions: the Gopher rule filter
  * (Rae et al. 2021, arXiv:2112.11446), winnowing fingerprints
  * (Schleimer et al. 2003, SIGMOD'03), BPE pair counts (Sennrich et
  * al. 2016, arXiv:1508.07909), and Count-Min estimation (Cormode &
  * Muthukrishnan 2005). Pins each op's declared contract from the
  * OUTPUT side — planted-violator recall, the winnowing coverage and
  * detection guarantees with the rightmost tie rule, pair-mass
  * conservation, and the one-sided CMS invariant — so a change that
  * keeps the oracle green but breaks the documented semantics fails
  * here. */
class CorpusStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("filter_gopher: every planted violator class fails exactly its rules") {
    val rows = CorpusStats.filterGopher(spark, dir).collect()
    assert(rows.nonEmpty)
    val byMod = rows.groupBy(_.getLong(0) % 4)
    // digit-substituted copies (id*4+1): no alpha words, all digit words
    val digits = byMod(1L)
    assert(digits.nonEmpty)
    digits.foreach { r =>
      assert(!r.getBoolean(8) && !r.getBoolean(10) && !r.getBoolean(11),
        s"digit doc ${r.getLong(0)} should fail r_alpha+r_digit+keep")
    }
    // 2-token truncations (id*4+2): word count below 5
    val shorts = byMod(2L)
    assert(shorts.nonEmpty)
    shorts.foreach { r =>
      assert(r.getInt(1) == 2 && !r.getBoolean(6) && !r.getBoolean(11),
        s"short doc ${r.getLong(0)} should fail r_wc")
    }
    // stopword-stripped copies (id*4+3): zero stopwords
    val nostop = byMod(3L)
    assert(nostop.nonEmpty)
    nostop.foreach { r =>
      assert(r.getInt(4) == 0 && !r.getBoolean(9) && !r.getBoolean(11),
        s"stripped doc ${r.getLong(0)} should fail r_stop")
    }
    // originals: keep ⇔ conjunction of the five rules, and some survive
    val orig = byMod(0L)
    orig.foreach { r =>
      val expect = r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8) &&
        r.getBoolean(9) && r.getBoolean(10)
      assert(r.getBoolean(11) == expect)
    }
    assert(orig.count(_.getBoolean(11)) > orig.length / 2,
      "most natural docs should survive the battery")
  }

  test("bpe_train: unit conservation, monotone counts, the B66 top pair first") {
    val rows = CorpusStats.bpeTrain(spark, dir).collect()
    assert(rows.length == CorpusStats.BpeMerges)
    // merge 1 must be exactly the pair B66's counting step ranks first
    assert(rows(0).getString(1) == "e r", "first merge should match op_bpe_pairs' top pair")
    // all learned merges are distinct pairs
    assert(rows.map(_.getString(1)).distinct.length == rows.length)
    // units shrink by exactly n per step when the pair halves differ
    // (each merged occurrence removes one symbol; occurrences of an
    // a!=b pair can never overlap)
    rows.sliding(2).foreach { case Array(prev, cur) =>
      val Array(a, b) = cur.getString(1).split(" ", 2)
      if (a != b)
        assert(prev.getLong(3) - cur.getLong(2) == cur.getLong(3),
          s"step ${cur.getInt(0)}: units_after != prev_units - n")
      case _ => ()
    }
  }

  test("stats_pmi: planted collocation ranks first; identity recomputes") {
    import spark.implicits._
    // 'hong kong' appears 6 times and the two words NEVER appear
    // apart — the defining collocation, it must top the table
    val hand = Seq(
      "hong kong the a key hong kong value table hong kong row scan " +
        "hong kong merge batch hong kong part value hong kong the a " +
        "key value table row scan merge batch part value the a key " +
        "value table row the a key value table row scan scan")
      .toDF("text")
    val h = CorpusStats.statsPmiWith(hand, 5, 10).collect()
    assert(h.nonEmpty && h(0).getString(0) == "hong" && h(0).getString(1) == "kong")
    // the graded table: every row's pmi recomputes from the corpus
    // marginals (round-trip through the definition)
    val rows = CorpusStats.statsPmi(spark, dir).collect()
    assert(rows.length == CorpusStats.PmiTop)
    val bigrams = graft.sources.Tables.documents(spark, dir)
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(t => t.split(" ").filter(_.nonEmpty).sliding(2).collect {
        case Array(a, b) => (a, b) })
    val c2 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cl = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cr = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = bigrams.length.toLong
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == c2((a, b)) && r.getLong(2) >= CorpusStats.PmiMinCount)
      val pmi = math.log(n.toDouble * c2((a, b)) / (cl(a) * cr(b)).toDouble)
      assert(math.abs(r.getDouble(3) - pmi) < 5e-4, s"pmi($a,$b) off")
    }
  }

  test("bpe_segment: per-doc compression bounds and train/apply conservation") {
    val seg = CorpusStats.bpeSegment(spark, dir).collect()
    assert(seg.nonEmpty)
    seg.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2),
        s"doc ${r.getLong(0)}: merges cannot grow the unit count")
      assert(r.getLong(3) >= r.getLong(1),
        s"doc ${r.getLong(0)}: a word is never fewer than one unit")
    }
    // train and apply describe the SAME corpus: the summed per-doc bpe
    // units must equal the training loop's final units_after exactly
    val train = CorpusStats.bpeTrain(spark, dir).collect()
    assert(seg.map(_.getLong(3)).sum == train.last.getLong(3),
      "apply-side unit total diverged from the training loop's")
  }

  test("bpe_train fold: left-to-right non-overlap on a repeated-symbol pair") {
    import spark.implicits._
    // vocab: 'aaa' x2, 'aa' x1 -> pair (a,a) counts overlapping
    // occurrences (2 per 'aaa' + 1 = 5) but merges non-overlapping
    // left-to-right: 'aaa' -> [aa, a, </w>], 'aa' -> [aa, </w>]
    val out = CorpusStats.bpeTrainWith(spark,
      Seq("aaa aaa aa").toDF("text"), 1).collect()
    assert(out.length == 1)
    assert(out(0).getString(1) == "a a" && out(0).getLong(2) == 5L)
    // units: before = 2*4 + 1*3 = 11; merged occurrences = 3 (ONE per
    // 'aaa', one in 'aa') -> after = 8, NOT 11 - 5
    assert(out(0).getLong(3) == 8L,
      "overlapping occurrences must merge left-to-right, one per run")
    // a corpus word carrying the reserved delimiter fails loudly
    val bad = intercept[Exception] {
      CorpusStats.bpeTrainWith(spark, Seq("ok bad|word").toDF("text"), 1)
        .collect()
    }
    assert(bad.getMessage != null)
  }

  test("fingerprint_winnow: coverage gap <= w and density near 2/(w+1)") {
    val w = CorpusStats.WinnowWindow
    val rows = CorpusStats.fingerprintWinnow(spark, dir).collect()
    assert(rows.nonEmpty)
    var nSel = 0L
    var nGram = 0L
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val pos = rs.map(_.getInt(1)).sorted
      // the winnowing coverage guarantee: selections at most w apart
      pos.sliding(2).foreach {
        case Array(a, b) => assert(b - a <= w, s"doc $doc: gap ${b - a} > $w")
        case _ =>
      }
      nSel += pos.length
      nGram += pos.max + 1 // lower bound on gram count; density check is a band
    }
    val density = nSel.toDouble / nGram
    assert(density > 1.2 / (w + 1) && density < 3.2 / (w + 1),
      s"density $density out of band for 2/(w+1)=${2.0 / (w + 1)}")
  }

  test("fingerprint_winnow: rightmost tie rule and the detection guarantee") {
    val spark2 = spark
    import spark2.implicits._
    val k = CorpusStats.WinnowGram
    val w = CorpusStats.WinnowWindow
    // constant text: every gram hash identical, so every window must
    // select its RIGHTMOST gram — positions w-1 .. n_grams-1 exactly
    val const = "z" * (k + w + 3)
    val c = Seq((1L, const)).toDF("doc_id", "text")
    val sel = CorpusStats.winnowWith(c, k, w).collect()
    val nGrams = const.length - k + 1
    assert(sel.map(_.getInt(1)).sorted.toSeq == (w - 1 until nGrams),
      "constant text must select the rightmost gram of every window")
    assert(sel.map(_.getLong(2)).distinct.length == 1)
    // detection guarantee: a shared substring of length >= k + w - 1
    // yields at least one shared fingerprint HASH between the two docs
    val shared = "the quick brown fox jumps over the lazy dog"
    val pair = Seq(
      (10L, s"left padding words before $shared and one tail"),
      (20L, s"a completely different prefix here $shared unrelated suffix text"))
      .toDF("doc_id", "text")
    val fps = CorpusStats.winnowWith(pair, k, w)
      .select("doc_id", "fp").collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert((fps(10L) intersect fps(20L)).nonEmpty,
      s"shared ${shared.length}-char substring must share a fingerprint")
  }

  test("bpe_pairs: pair mass conservation and a hand-computed vocabulary") {
    val spark2 = spark
    import spark2.implicits._
    // hand case: "ab ab b" → vocab {ab:2, b:1}
    //   ab → pairs [ab, b</w>] ×2 ; b → [b</w>] ×1
    val tiny = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val got = CorpusStats.bpePairsWith(tiny).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("ab" -> 2L, "b</w>" -> 3L))
    // corpus invariant: every word occurrence of length L contributes
    // exactly L pairs (L-1 interior + terminal), so Σ n = Σ cnt·len(w)
    val corpus = graft.sources.Tables.documents(spark, dir)
    val expected = corpus
      .select(explode(filter(split(col("text"), " "), t => t =!= "")).as("w"))
      .agg(sum(length(col("w")))).collect()(0).getLong(0)
    val total = CorpusStats.bpePairsWith(corpus)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(total == expected, s"pair mass $total != token char mass $expected")
  }

  test("sketch_cms: one-sided error on the graded panel, exact when collision-free") {
    val rows = CorpusStats.sketchCms(spark, dir).collect()
    assert(rows.length == CorpusStats.CmsPanel)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"CMS must never underestimate: ${r.getString(0)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
    // a single-item stream cannot collide with anything: est == exact
    val spark2 = spark
    import spark2.implicits._
    val one = Seq(("solo item", 7L)).toDF("item", "cnt")
    val est = CorpusStats.cmsEstimate(one, one).collect()
    assert(est.length == 1 && est(0).getLong(2) == 7L)
  }
}
