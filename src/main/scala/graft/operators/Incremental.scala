package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.functions.Checkpoints
import graft.sources.Tables

/** The COMPOSED daily-ingest pipeline: the incremental-family pieces
  * (B52 exact-digest probe, B56 band-index probe, B55 exact-index
  * update, B58 vector probe) chained into the one query a production
  * ingest actually runs — probe, triage, admit, index, enrich — so the
  * family is graded as a PIPELINE, not only as parts.
  */
object Incremental {

  /** B59b — `op_incremental_e2e`: one chained query over the day's
    * batch against the stored history indexes.
    *
    * Stages (each the corresponding standalone op's plan, verbatim):
    *  1. DIGEST PROBE (B52): the batch's normalized md5 keys left-join
    *     the historical digest index; a hit is an `exact_dup`.
    *  2. BAND PROBE (B56), GATED: only the exact-NOVEL docs are
    *     shingled/signed/banded and probe the capped historical
    *     band-bucket index — a hit is a `near_dup` (the gating is the
    *     composition's point: the expensive LSH pass never sees rows
    *     the cheap digest probe already killed).
    *  3. ADMIT + INDEX UPDATE (B55): survivors are `admitted`; their
    *     keys extend the exact index (within-batch keep-first —
    *     `entry_id` = the min admitted doc per key).
    *  4. VECTOR PROBE (B58), GATED: only ADMITTED docs look up their
    *     embedding and probe the historical IVF index (nprobe=1) for
    *     their top-1 history neighbor — the enrichment a dedup
    *     decision doesn't need is never computed for dropped rows.
    *
    * Corpus: history = orig doc_id % 4 == 0 (re-keyed 2·id); batch =
    * the rest (2·id) + planted EXACT re-posts (2·id+1 of %8==0 docs)
    * that stage 1 must kill + planted NEAR re-posts (2·id+1 of %8==4
    * docs, one appended token) that slip stage 1 and stage 2 must
    * kill.
    *
    * Scale shape: every history-sized frame (digest index, band index,
    * IVF cells) is the STORED index side of a natural-key shuffle join
    * — only the (shrinking) batch moves through the stages; nothing is
    * broadcast-hinted (indexes are corpus-sized), no stage re-indexes
    * history, and the per-stage gating makes downstream volume
    * proportional to survivors, exactly like the standalone ops'
    * contracts. Output is batch-sized: one row per batch doc with its
    * fate and per-stage evidence.
    *
    * Sentinels: -1 for absent ids; nn_score -2.0 (cosine lives in
    * [-1, 1]) for docs that never reached, or found nothing in, the
    * vector probe. */
  def incrementalE2e(sp: SparkSession, dir: String): DataFrame = {
    // persisted (r22, guide §2.4): `d` appears FIVE times in the
    // corpus construction — once in history (which is itself read by
    // the digest index AND the band index) and three times in the
    // batch union — so materializing `probed` + the history band index
    // re-scanned the documents parquet five times per execution. One
    // scan now feeds all arms; (doc_id, text)-sized, the same class as
    // the emb prep cache below.
    val d = Tables.documents(sp, dir).select(col("doc_id"), col("text")).persist()
    val history = d.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
    val batch = d.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"), col("text")))
      .union(d.filter(col("doc_id") % 8 === 4)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(col("text"), lit(" extraneous")).as("text")))

    val (probed, nearHits, admitted) = triageFrames(history, batch)
    val entries = admitted.groupBy("key").agg(min("doc_id").as("entry_id"))

    // stage 4: vector probe of admitted docs against B58's quantizer —
    // the corpus-scaled every-Nth codebook (TrainingData.annCodebook),
    // so the composed pipeline's nn tail stays candidate-linear like
    // the standalone op (the r15 fixed-8 stand-in made it quadratic)
    // persisted (r21): the prep feeds the codebook, the history index
    // and the admitted-side lookup (4 embeddings scans per execution
    // → 1; ScanCount census)
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .persist()
    val cents = TrainingData.annCodebook(emb)
    val histIvf = TrainingData.ivfAssignWith(
        emb.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") * 2).as("vec_id"), col("e")), cents)
      .select(col("cell"), col("vec_id").as("nn_hist"), col("e").as("he"))
    val admAssigned = TrainingData.ivfAssignWith(
      admitted.select(col("doc_id"), expr("doc_id DIV 2").as("vec_id"))
        .join(emb, Seq("vec_id"))
        .select(col("doc_id").as("vec_id"), col("e")), cents)
    val wNn = Window.partitionBy("vec_id")
      .orderBy(col("nn_score").desc, col("nn_hist").asc)
    val nn = admAssigned.join(histIvf, Seq("cell"))
      .withColumn("nn_score", round(graft.plans.VectorKernels.cosine(col("e"), col("he")), 4))
      .withColumn("rn", row_number().over(wNn)).filter(col("rn") === 1)
      .select(col("vec_id").as("doc_id"), col("nn_hist"), col("nn_score"))

    probed
      .join(nearHits, Seq("doc_id"), "left")
      .join(entries, Seq("key"), "left")
      .join(nn, Seq("doc_id"), "left")
      .select(
        col("doc_id").as("batch_id"),
        when(col("exact_hist").isNotNull, "exact_dup")
          .when(col("near_hist").isNotNull, "near_dup")
          .otherwise("admitted").as("fate"),
        coalesce(col("exact_hist"), lit(-1L)).as("exact_hist"),
        coalesce(col("near_hist"), lit(-1L)).as("near_hist"),
        when(col("exact_hist").isNull && col("near_hist").isNull,
          coalesce(col("entry_id"), lit(-1L))).otherwise(lit(-1L)).as("entry_id"),
        coalesce(col("nn_hist"), lit(-1L)).as("nn_hist"),
        coalesce(col("nn_score"), lit(-2.0)).as("nn_score"))
      .persist().orderBy("batch_id")
  }

  /** Stages 1–3 of the ingest triage over any `(doc_id, text)` frames:
    * digest probe → gated band probe → admission. Returns
    * `(probed, nearHits, admitted)` where `probed` carries
    * (doc_id, text, key, exact_hist), `nearHits` (doc_id, near_hist)
    * over the exact-novel docs only, and `admitted` the survivors.
    *
    * The triage frames are BATCH-sized (the daily increment, not the
    * corpus) and each feeds two consumers — its gated downstream stage
    * AND the final evidence assembly — so they are pinned
    * ([[Checkpoints.truncate]]): without the pin each consumer replays
    * every stage above it (probed would run ~4x). A pin lives as long
    * as a frame that reads it, so a long-lived session running one
    * triage per daily batch keeps no residue once a day's result is
    * dropped; at 100 TB pinning the increment is the intended shape.
    * Shared by the graded op and [[graft.api.Graft.ingestTriage]]. */
  private[graft] def triageFrames(history: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val key = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
    val histKeys = history.select(key.as("key"), col("doc_id"))
      .groupBy("key").agg(min("doc_id").as("exact_hist"))
    val probed = batch.withColumn("key", key)
      .join(histKeys, Seq("key"), "left")
      .transform(Checkpoints.truncate(_))
    val nonExact = probed.filter(col("exact_hist").isNull)
      .select("doc_id", "text", "key")
    val nearHits = LlmPipeline.minhashBanded(nonExact.select("doc_id", "text"))
      .join(LlmPipeline.minhashHistoryIndex(history), Seq("band_id", "band_key"))
      .groupBy("doc_id").agg(min("hist_id").as("near_hist"))
      .transform(Checkpoints.truncate(_))
    val admitted = nonExact.join(nearHits, Seq("doc_id"), "left_anti")
      .transform(Checkpoints.truncate(_))
    (probed, nearHits, admitted)
  }

  private def cosSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_incremental_e2e",
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |hist AS (SELECT doc_id * 2 AS doc_id, text FROM base WHERE doc_id % 4 = 0),
        |batch AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM base WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, text FROM base WHERE doc_id % 8 = 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, concat(text, ' extraneous') FROM base WHERE doc_id % 8 = 4),
        |hkeys AS (
        |  SELECT md5(lower(trim(regexp_replace(text, '${"\\"}s+', ' ', 'g')))) AS key,
        |    min(doc_id) AS exact_hist
        |  FROM hist GROUP BY key),
        |bkeys AS (
        |  SELECT doc_id, text,
        |    md5(lower(trim(regexp_replace(text, '${"\\"}s+', ' ', 'g')))) AS key
        |  FROM batch),
        |probed AS (
        |  SELECT b.doc_id, b.text, b.key, h.exact_hist
        |  FROM bkeys b LEFT JOIN hkeys h USING (key)),
        |corpus AS (
        |  SELECT 'h' AS side, doc_id, text FROM hist
        |  UNION ALL
        |  SELECT 'b', doc_id, text FROM probed WHERE exact_hist IS NULL),
        |${LlmPipeline.MinhashBandsSql},
        |${LlmPipeline.MinhashHcapSql},
        |near AS (
        |  SELECT bb.doc_id, min(h.hist_id) AS near_hist
        |  FROM bands bb JOIN hcap h ON bb.band_id = h.band_id AND bb.band_key = h.band_key
        |  WHERE bb.side = 'b' GROUP BY bb.doc_id),
        |admitted AS (
        |  SELECT p.doc_id, p.key FROM probed p LEFT JOIN near n ON n.doc_id = p.doc_id
        |  WHERE p.exact_hist IS NULL AND n.doc_id IS NULL),
        |entries AS (SELECT key, min(doc_id) AS entry_id FROM admitted GROUP BY key),
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cents AS (SELECT vec_id AS c_id, e AS ce
        |  FROM emb WHERE vec_id % ${TrainingData.AnnCodebookStride} = 0),
        |hemb AS (SELECT vec_id * 2 AS hid, e FROM emb WHERE vec_id % 4 = 0),
        |hassign AS (SELECT hid, e, c_id AS cell FROM (
        |  SELECT hemb.hid, hemb.e, cents.c_id,
        |    row_number() OVER (PARTITION BY hemb.hid ORDER BY
        |      ${cosSql("hemb.e", "cents.ce")} DESC, cents.c_id ASC) AS rn
        |  FROM hemb, cents) WHERE rn = 1),
        |aemb AS (SELECT a.doc_id, e.e FROM admitted a JOIN emb e ON e.vec_id = a.doc_id // 2),
        |aassign AS (SELECT doc_id, e, c_id AS cell FROM (
        |  SELECT aemb.doc_id, aemb.e, cents.c_id,
        |    row_number() OVER (PARTITION BY aemb.doc_id ORDER BY
        |      ${cosSql("aemb.e", "cents.ce")} DESC, cents.c_id ASC) AS rn
        |  FROM aemb, cents) WHERE rn = 1),
        |nn AS (SELECT doc_id, nn_hist, score FROM (
        |  SELECT a.doc_id, h.hid AS nn_hist,
        |    round(${cosSql("a.e", "h.e")}, 4) AS score,
        |    row_number() OVER (PARTITION BY a.doc_id ORDER BY
        |      round(${cosSql("a.e", "h.e")}, 4) DESC, h.hid ASC) AS rn
        |  FROM aassign a JOIN hassign h ON a.cell = h.cell) WHERE rn = 1)
        |SELECT p.doc_id AS batch_id,
        |  CASE WHEN p.exact_hist IS NOT NULL THEN 'exact_dup'
        |       WHEN nr.near_hist IS NOT NULL THEN 'near_dup'
        |       ELSE 'admitted' END AS fate,
        |  COALESCE(p.exact_hist, CAST(-1 AS BIGINT)) AS exact_hist,
        |  COALESCE(nr.near_hist, CAST(-1 AS BIGINT)) AS near_hist,
        |  CASE WHEN p.exact_hist IS NULL AND nr.near_hist IS NULL
        |       THEN COALESCE(en.entry_id, CAST(-1 AS BIGINT))
        |       ELSE CAST(-1 AS BIGINT) END AS entry_id,
        |  COALESCE(nn.nn_hist, CAST(-1 AS BIGINT)) AS nn_hist,
        |  COALESCE(nn.score, CAST(-2.0 AS DOUBLE)) AS nn_score
        |FROM probed p
        |LEFT JOIN near nr ON nr.doc_id = p.doc_id
        |LEFT JOIN entries en ON en.key = p.key
        |LEFT JOIN nn ON nn.doc_id = p.doc_id
        |ORDER BY batch_id""".stripMargin)(incrementalE2e))
}
