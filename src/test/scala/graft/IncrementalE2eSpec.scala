package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Incremental

/** Semantic pins for the composed daily-ingest pipeline
  * (`op_incremental_e2e`): the oracle hash proves cross-engine
  * equality; THIS spec pins the triage semantics a reader should be
  * able to rely on — planted exact re-posts die in stage 1 against
  * their own originals, planted near-posts die in stage 2, admitted
  * docs (and only they) get index entries, and the per-stage evidence
  * columns are mutually consistent. */
class IncrementalE2eSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val rows = Incremental.incrementalE2e(spark, dir).collect().map { r =>
    (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getDouble(6))
  }

  test("planted exact re-posts are exact_dups of their own originals") {
    // exact re-posts are 2·id+1 for id % 8 == 0; their original is 2·id
    val reposts = rows.filter(r => r._1 % 2 == 1 && (r._1 - 1) / 2 % 8 == 0)
    assert(reposts.nonEmpty)
    reposts.foreach { r =>
      assert(r._2 == "exact_dup", s"re-post ${r._1} must die in stage 1: $r")
      assert(r._3 == r._1 - 1, s"re-post ${r._1} must match its original ${r._1 - 1}")
    }
  }

  test("planted near-posts die in the band probe, against their own originals") {
    val nearPosts = rows.filter(r => r._1 % 2 == 1 && (r._1 - 1) / 2 % 8 == 4)
    assert(nearPosts.nonEmpty)
    // one appended token slips the digest but shares a band with
    // p ≈ 0.999 per doc — a fixed function of each text, so allow the
    // rare structural miss but require the plant to work overall
    val caught = nearPosts.filter(_._2 == "near_dup")
    assert(caught.length * 10 >= nearPosts.length * 8,
      s"only ${caught.length}/${nearPosts.length} near-posts caught")
    caught.foreach { r =>
      // near_hist is the MIN candidate: the original (2·id) is always a
      // candidate, but the synthetic corpus repeats templates, so an
      // even-nearer-keyed history doc may win the min. Pin what is
      // structural: the evidence is a real history id (history =
      // 2·(id % 4 == 0) ⇒ ≡ 0 mod 8) no later than the original.
      assert(r._4 % 8 == 0 && r._4 <= r._1 - 1,
        s"near-post ${r._1} must surface a history doc ≤ its original: $r")
    }
  }

  test("evidence columns are consistent with the fate triage") {
    assert(rows.nonEmpty)
    rows.foreach { case r @ (_, fate, exactH, nearH, entry, nnH, nnS) =>
      fate match {
        case "exact_dup" =>
          assert(exactH >= 0 && nearH == -1 && entry == -1 && nnH == -1 && nnS == -2.0,
            s"exact_dup row carries non-stage-1 evidence: $r")
        case "near_dup" =>
          assert(exactH == -1 && nearH >= 0 && entry == -1 && nnH == -1 && nnS == -2.0,
            s"near_dup row carries wrong evidence: $r")
        case "admitted" =>
          assert(exactH == -1 && nearH == -1 && entry >= 0,
            s"admitted row must be novel and indexed: $r")
          // the vector probe only covers admitted docs whose original
          // id has an embedding; when it fires, the score is a cosine
          assert(nnH == -1 || (nnS >= -1.0 && nnS <= 1.0), s"bad nn evidence: $r")
        case other => fail(s"unknown fate $other in $r")
      }
    }
  }

  test("Graft.ingestTriage: one call from history+batch to per-doc fates") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val history = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      (20L, "pack my box with five dozen liquor jugs right now please"))
      .toDF("my_id", "body")
    val batch = Seq(
      (31L, "the quick brown fox jumps over the lazy dog again today"),        // exact dup of 10
      (32L, "the quick brown fox jumps over the lazy dog again today wow"),    // near dup of 10
      (33L, "entirely novel musings about shuffle partitions and codegen"),    // admitted
      (34L, "entirely novel musings about shuffle partitions and codegen"))    // admitted, same key -> entry 33
      .toDF("my_id", "body")
    val out = graft.api.Graft.ingestTriage(history, batch, "my_id", "body")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(out(31L) == (("exact_dup", Some(10L), None, None)), s"got ${out(31L)}")
    assert(out(32L)._1 == "near_dup" && out(32L)._3 == Some(10L), s"got ${out(32L)}")
    assert(out(33L) == (("admitted", None, None, Some(33L))), s"got ${out(33L)}")
    assert(out(34L) == (("admitted", None, None, Some(33L))),
      s"keep-first entry must point both same-key docs at 33: ${out(34L)}")
  }

  /** Pins one day's triage held while its written result was live. */
  private def triageDay(history: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame): Int =
    IntermediateLifetimeSpec.pinsHeldWhileLive(spark)(
      graft.api.Graft.ingestTriage(history, batch, "my_id", "body"))

  test("ingestTriage self-release fires on a WRITE of the result, not just collect()") {
    // The triage pins live as long as the result frame: after a WRITE
    // (the daily-batch path; r12's listener-era bug leaked exactly
    // here) and once the caller drops the result, the context cleaner
    // must bring the session back to its persisted-RDD baseline.
    val sp = spark
    import sp.implicits._
    val history = Seq((10L, "the quick brown fox jumps over the lazy dog again today"))
      .toDF("my_id", "body")
    val batch = Seq((31L, "entirely novel musings about shuffle partitions and codegen"))
      .toDF("my_id", "body")
    val before = sp.sparkContext.getPersistentRDDs.size
    assert(triageDay(history, batch) > 0, "triage must pin its intermediate frames")
    assert(IntermediateLifetimeSpec.gcUntil(sp.sparkContext.getPersistentRDDs.size <= before),
      "the triage pins outlived the unreachable result of a write")
  }

  test("soak: sequential daily triage batches leave zero cache residue per batch") {
    // The long-lived-session leak class this API has had twice (r10:
    // no release at all; r12: the listener matched the unanalyzed plan
    // so the WRITE path never released). Drive >=5 distinct batches
    // through one session — history grows each day, so every day's
    // plans differ — and assert the persisted-RDD count is back at
    // baseline once each day's result is unreachable, not just after
    // the last.
    val sp = spark
    import sp.implicits._
    val before = sp.sparkContext.getPersistentRDDs.size
    var history = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      (20L, "pack my box with five dozen liquor jugs right now please"))
      .toDF("my_id", "body")
    for (day <- 1 to 5) {
      val batch = Seq(
        (day * 100L + 1, s"entirely novel musings number $day about shuffle partitions"),
        (day * 100L + 2, "the quick brown fox jumps over the lazy dog again today"))
        .toDF("my_id", "body")
      assert(triageDay(history, batch) > 0, s"day $day's triage must pin its frames")
      assert(IntermediateLifetimeSpec.gcUntil(sp.sparkContext.getPersistentRDDs.size <= before),
        s"triage residue after day $day's result became unreachable — the pins " +
          "are not keeping a long-lived session clean")
      history = history.union(batch) // tomorrow's index includes today's admits
    }
  }

  test("admitted docs' index entries are keep-first within the batch") {
    val admitted = rows.filter(_._2 == "admitted")
    assert(admitted.nonEmpty)
    // entry_id must itself be an admitted batch doc, no later than the row
    val ids = admitted.map(_._1).toSet
    admitted.foreach { r =>
      assert(ids.contains(r._5), s"entry ${r._5} is not an admitted doc: $r")
      assert(r._5 <= r._1, s"entry must be the keep-FIRST doc: $r")
    }
  }
}
