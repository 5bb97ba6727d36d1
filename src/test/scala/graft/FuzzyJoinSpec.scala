package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.Mining

/** B92 `op_fuzzy_join` — deletion-neighborhood edit-distance join.
  * Pins:
  *
  *  1. COMPLETENESS vs brute force: at sf0.001 the blocked join finds
  *     EXACTLY the all-pairs dist-≤-1 set (the FastSS guarantee — no
  *     candidate filter may lose a true pair);
  *  2. plants: every substitution clone and deletion clone pairs with
  *     its original at dist 1; the sub×del cross pair (dist 2) never
  *     passes confirm;
  *  3. the scale plan: the bucket cap plans as WindowGroupLimit, and
  *     uncapped occupancy at gate SF sits well under the cap (the
  *     cap is a degenerate-corpus backstop, not a live truncation);
  *  4. api.Graft.fuzzyJoin on a hand corpus: indel/substitution
  *     neighbors found, dist-2 strangers not; long keys survive the
  *     generic core (no fixed-length truncation). */
class FuzzyJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("completeness: blocked join == brute-force all-pairs at sf0.001") {
    val got = Mining.fuzzyJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // rebuild the graded corpus keys independently
    val base = sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpus = base.map { case (id, t) => (id * 3, t.take(24)) } ++
      base.filter(_._1 % 7 == 0).map { case (id, t) =>
        (id * 3 + 1, t.take(4) + "#" + t.slice(5, 24)) } ++
      base.filter(_._1 % 11 == 0).map { case (id, t) =>
        (id * 3 + 2, t.take(6) + t.slice(7, 24)) }
    val expected = (for {
      (ai, ak) <- corpus; (bi, bk) <- corpus
      if ai < bi
      d = lev(ak, bk)
      if d <= 1
    } yield (ai, bi, d)).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(expected.nonEmpty)
  }

  test("plants: sub and del clones pair at dist 1; the dist-2 cross pair is filtered") {
    val got = Mining.fuzzyJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ids = sources.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0))
    ids.filter(_ % 7 == 0).foreach { id =>
      assert(got.contains((id * 3, id * 3 + 1, 1)), s"sub plant $id missing") }
    ids.filter(_ % 11 == 0).foreach { id =>
      assert(got.contains((id * 3, id * 3 + 2, 1)), s"del plant $id missing") }
    ids.filter(_ % 77 == 0).foreach { id =>
      assert(!got.exists(p => p._1 == id * 3 + 1 && p._2 == id * 3 + 2),
        s"dist-2 cross pair for $id must not pass confirm") }
  }

  test("bucket cap plans as WindowGroupLimit; GRADED-corpus occupancy under the cap") {
    // the capped variant frame is pinned (a local checkpoint), so
    // the cap's plan is the one the pin executed when the op was built
    val pins = PinPlans.capture(spark)(Mining.fuzzyJoin(spark, dir))
    assert(pins.exists(_.contains("WindowGroupLimit")), pins.map(_.take(2000)).mkString("\n"))
    // uncapped occupancy of the FULL graded corpus (base + sub/del
    // plant clones — the clones share deletion variants with their
    // originals, so they are the occupancy that matters), at both
    // gate SFs the spec can afford
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val b = sources.Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val corpus = b.select((col("doc_id") * 3).as("doc_id"),
          substring(col("text"), 1, 24).as("key"))
        .union(b.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") * 3 + 1).as("doc_id"),
            concat(substring(col("text"), 1, 4), lit("#"),
              substring(col("text"), 6, 19)).as("key")))
        .union(b.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") * 3 + 2).as("doc_id"),
            concat(substring(col("text"), 1, 6),
              substring(col("text"), 8, 17)).as("key")))
      val occ = corpus
        .select(col("doc_id"), explode(concat(array(col("key")),
          transform(sequence(lit(0), length(col("key")) - 1),
            i => concat(col("key").substr(lit(1), i),
              col("key").substr(i + lit(2), length(col("key"))))))).as("v"))
        .distinct()
        .groupBy("v").count().agg(max("count")).collect()(0).getLong(0)
      assert(occ <= Mining.FuzzyBucketCap * 3 / 4,
        s"$d: graded uncapped occupancy $occ too close to cap ${Mining.FuzzyBucketCap}")
    }
  }

  test("api.Graft.fuzzyJoin: hand corpus incl. long keys") {
    import spark.implicits._
    val rows = Seq(
      (1L, "jonathan smith"),
      (2L, "jonathon smith"),   // substitution -> dist 1
      (3L, "jonathan smithe"),  // insertion -> dist 1
      (4L, "bonathan smyth"),   // dist 2 from 1
      (5L, "a completely different very long key string here"),
      (6L, "a completely different very long key string herX")) // sub at tail
    val got = api.Graft.fuzzyJoin(rows.toDF("doc_id", "key"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 1)))
    assert(got.contains((5L, 6L, 1)), "long keys must not truncate")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
    // 2 vs 3: sub + insert = dist 2, must be absent
    assert(!got.contains((2L, 3L, 1)) && !got.exists(p => (p._1, p._2) == ((2L, 3L))))
  }
}
