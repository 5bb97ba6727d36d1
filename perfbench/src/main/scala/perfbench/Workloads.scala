package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Graft

/** Per-layer samples a run collects besides spans and unit timings:
  * written-file counts from every unit's check, the rest from traced
  * units and the probes after them. */
final class LayerSamples {
  val parseFileUs = ArrayBuffer.empty[Double]
  val convertTextUs = ArrayBuffer.empty[Double]
  val fragments = ArrayBuffer.empty[Double]
  val readTasks = ArrayBuffer.empty[Double]
  val writeFiles = ArrayBuffer.empty[Double]
  val kernels = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[Double]]
  var cachePeakMb = 0.0
}

/** Per-run state shared by a workload's units. */
final class Ctx(val spark: SparkSession, val work: Path, val tracer: Tracer,
    val layers: LayerSamples, probe: Option[EngineProbe]) {
  def traced: Boolean = tracer.enabled

  /** A call into a layer: a span when tracing. */
  def step[T](name: String)(body: => T): T = {
    val r = tracer.span(name)(body)
    if (traced) layers.cachePeakMb = math.max(layers.cachePeakMb, EngineProbe.cacheState(spark.sparkContext)._1)
    r
  }

  /** Traced runs materialize a step's frame so its time lands in its own
    * span; untraced runs leave the plan lazy. The frame is by-name: an
    * operator that runs jobs while it builds its plan (connected
    * components' supersteps) runs them inside the span. */
  def materialize(name: String, df: => DataFrame): DataFrame =
    if (!traced) df else step(name) { val p = df.persist(); p.count(); p }

  /** The workload's input read, materialized like any step; traced runs
    * also count its tasks. */
  def read(df: => DataFrame): DataFrame = {
    val before = probe.map(_.snapshot())
    val p = materialize("sources.read", df)
    for (b <- before; e <- probe) layers.readTasks += e.snapshot().since(b).tasks.toDouble
    p
  }

  /** Times the driver-side single-document functions on `texts`. */
  def functionsProbe(texts: Seq[String]): Unit = texts.foreach { t =>
    val t0 = System.nanoTime()
    val (frags, _, _) = Graft.parseFile(t)
    val t1 = System.nanoTime()
    Graft.convertText(t)
    val t2 = System.nanoTime()
    layers.parseFileUs += (t1 - t0) / 1e3
    layers.convertTextUs += (t2 - t1) / 1e3
    layers.fragments += frags.size.toDouble
  }

  /** Times each codegen kernel alone over `docs.text`, input cached first
    * so the scan is not in the kernel's time. */
  def kernelProbe(docs: DataFrame): Unit = {
    val in = docs.select(col("text")).persist()
    in.count()
    Seq("plans.parse_kernel" -> graft.plans.ParseDocument.parse(col("text")),
      "plans.convert_kernel" -> graft.plans.ConvertDocument.convert(col("text")),
      "plans.nfc_kernel" -> graft.plans.NfcNormalize.nfc(col("text"))).foreach { case (name, k) =>
      val t0 = System.nanoTime()
      in.select(k.as("k")).write.format("noop").mode("overwrite").save()
      layers.kernels.getOrElseUpdate(name, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    }
    in.unpersist(blocking = true)
  }

  def dir(name: String): String = work.resolve(name).toString
}

/** The outcome of one timed unit: documents processed, and the output
  * check, run after the unit's clock stops. */
final case class UnitResult(docs: Long, check: () => Seq[String])

trait Workload {
  /** Writes the run's inputs (not timed, not part of set-up). */
  def generate(spark: SparkSession, work: Path): Unit
  /** One untimed unit on the run's inputs, output unchecked (part of
    * set-up). */
  def warmup(ctx: Ctx): Unit
  /** Untimed passes after the last set-up, before the first timed
    * unit. A count, not a time: every pass adds to Spark's status
    * store, which `retained_heap_mb` sees. */
  def settlePasses: Int
  /** One timed unit of work. */
  def unit(ctx: Ctx, i: Int): UnitResult
  /** Traced runs: the layer probes after a traced unit (not timed). */
  def probes(ctx: Ctx, i: Int): Unit
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "parse" => new ParseWorkload(seed)
    case "curate" => new CurateWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (parse, curate)")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def writeFiles(dir: Path, files: Seq[Gen.TextFile]): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.write(dir.resolve(f.name), f.text.getBytes(UTF_8)))
  }

  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      finally s.close()
    }
}

// ---- parse -------------------------------------------------------------------

/** readDocuments → parseDocuments + convert → writeDocuments, one JSON
  * per input file; a unit is one pass over the whole directory. */
final class ParseWorkload(seed: Long) extends Workload {
  val FileCount = 125
  // ~12 s: parse units kept speeding up for ~15 s after set-up
  val settlePasses = 20
  private var expected: Map[String, Checks.ParseExpected] = Map.empty
  private var texts: Seq[String] = Nil

  def generate(spark: SparkSession, work: Path): Unit = {
    val docs = Gen.parseDocs(seed, FileCount)
    Workload.writeFiles(work.resolve("in"), docs)
    expected = docs.map(d => d.name -> Checks.parseExpected(d.text)).toMap
    texts = docs.map(_.text)
  }

  private def pass(ctx: Ctx, in: String, out: String): Unit = {
    val docs = ctx.read(Graft.readDocuments(ctx.spark, in))
    val parsed = ctx.materialize("api.parse_convert", Graft.convert(Graft.parseDocuments(docs, col("text")), col("text"))
      .select(
        concat(regexp_extract(col("path"), "[^/]+$", 0), lit(".json")).as("path"),
        concat(lit("{\"converted\": "), coalesce(col("converted"), lit("null")),
          lit(", \"summary\": "), to_json(col("summary")),
          lit(", \"records\": "), to_json(col("records")), lit("}")).as("text")))
    ctx.step("sources.write")(Graft.writeDocuments(parsed, out))
    if (ctx.traced) { parsed.unpersist(blocking = true); docs.unpersist(blocking = true) }
  }

  def warmup(ctx: Ctx): Unit = {
    val out = ctx.work.resolve("warm-out")
    pass(ctx, ctx.dir("in"), out.toString)
    Workload.deleteTree(out)
  }

  def unit(ctx: Ctx, i: Int): UnitResult = {
    val out = ctx.work.resolve(s"out-$i")
    pass(ctx, ctx.dir("in"), out.toString)
    UnitResult(FileCount, () => {
      val files = Workload.dataFiles(out)
      ctx.layers.writeFiles += files.size.toDouble
      val outputs = files.map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), UTF_8)).toMap
      Workload.deleteTree(out)
      Checks.parseOutputs(expected, outputs)
    })
  }

  def probes(ctx: Ctx, i: Int): Unit = {
    ctx.functionsProbe(texts)
    ctx.kernelProbe(Graft.readDocuments(ctx.spark, ctx.dir("in")))
  }
}

// ---- curate ------------------------------------------------------------------

/** normalizeText → gopherRules keep → dedupLines → nearDupKeepBest →
  * write the kept docs as parquet; a unit is one pass over the corpus. */
final class CurateWorkload(seed: Long) extends Workload {
  val Docs = 4000
  // ~5 s: a longer settle does not fit the run budget
  val settlePasses = 1
  private var docs: Seq[Gen.CurDoc] = Nil
  private var linkable: Set[Long] = Set.empty

  private def writeCorpus(spark: SparkSession, ds: Seq[Gen.CurDoc], dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(ds.map(d => Row(d.id, d.raw)), 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .write.parquet(dir)

  def generate(spark: SparkSession, work: Path): Unit = {
    docs = Gen.curateCorpus(seed, Docs)
    linkable = Checks.linkable(docs)
    // the seed also orders the rows, and with them the input partitions
    writeCorpus(spark, new scala.util.Random(seed).shuffle(docs), work.resolve("in").toString)
  }

  private def pass(ctx: Ctx, in: String, out: String): Unit = {
    val corpus = ctx.read(ctx.spark.read.parquet(in))
    val norm = ctx.materialize("operators.normalize", Graft.normalizeText(corpus)
      .select(col("doc_id"), col("norm").as("text")))
    val good = ctx.materialize("operators.gopher", norm.join(
      Graft.gopherRules(norm).filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi"))
    // the line-deduped corpus feeds both the near-dup clustering and the
    // anti-join that applies it, so the pipeline pins it
    val lines = ctx.step("operators.dedup_lines") {
      val p = Graft.dedupLines(good, minDocs = Gen.BoilerMinDocs).filter(col("kept"))
        .select(col("doc_id"), col("text_clean").as("text")).persist()
      if (ctx.traced) p.count()
      p
    }
    val kept = ctx.materialize("operators.near_dup_keep_best", lines.join(
      Graft.nearDupKeepBest(lines, col("doc_id"), col("text")).filter(!col("kept"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti"))
    ctx.step("sources.write")(kept.write.parquet(out))
    if (ctx.traced) Seq(kept, good, norm, corpus).foreach(_.unpersist(blocking = true))
    lines.unpersist(blocking = true)
  }

  def warmup(ctx: Ctx): Unit = {
    val out = ctx.work.resolve("warm-out")
    pass(ctx, ctx.dir("in"), out.toString)
    Workload.deleteTree(out)
  }

  def unit(ctx: Ctx, i: Int): UnitResult = {
    val out = ctx.work.resolve(s"out-$i")
    pass(ctx, ctx.dir("in"), out.toString)
    UnitResult(Docs, () => {
      ctx.layers.writeFiles += Workload.dataFiles(out).count(_.toString.endsWith(".parquet")).toDouble
      val got = ctx.spark.read.parquet(out.toString).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      Workload.deleteTree(out)
      Checks.curateOutputs(docs, linkable, got)
    })
  }

  def probes(ctx: Ctx, i: Int): Unit = {
    val sample = docs.filter(_.id % 50 == 0)
    ctx.functionsProbe(sample.map(_.raw))
    ctx.kernelProbe(ctx.spark.read.parquet(ctx.dir("in")).filter(col("doc_id") % 10 === 0))
  }
}
