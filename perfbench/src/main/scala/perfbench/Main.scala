package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The metrics a run reports: `EndToEnd` untraced, `PerLayer` traced.
  * BENCHMARK.json at the repository root lists the same names. */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("docs_per_s", "docs/s", "higher"),
    M("retained_heap_mb", "MB", "lower"))

  val PerLayer: Seq[M] = Seq(
    M("api.session_build_s", "s", "lower"),
    M("api.parse_convert_s", "s", "lower"),
    M("sources.read_s", "s", "lower"),
    M("sources.read_tasks", "count", "lower"),
    M("sources.write_s", "s", "lower"),
    M("sources.write_files", "count", "lower"),
    M("functions.parse_file_us_p50", "us", "lower"),
    M("functions.parse_file_us_p90", "us", "lower"),
    M("functions.convert_text_us_p50", "us", "lower"),
    M("functions.fragments_per_doc", "count", "higher"),
    M("plans.parse_kernel_s", "s", "lower"),
    M("plans.convert_kernel_s", "s", "lower"),
    M("plans.nfc_kernel_s", "s", "lower"),
    M("operators.normalize_s", "s", "lower"),
    M("operators.gopher_s", "s", "lower"),
    M("operators.dedup_lines_s", "s", "lower"),
    M("operators.near_dup_keep_best_s", "s", "lower"),
    M("cache.resident_mb_end", "MB", "lower"),
    M("cache.persisted_rdds_end", "count", "lower"),
    M("cache.peak_mb", "MB", "lower"),
    M("engine.jobs", "count", "lower"),
    M("engine.stages", "count", "lower"),
    M("engine.tasks", "count", "lower"),
    M("engine.plan_ms", "ms", "lower"),
    M("engine.driver_s", "s", "lower"),
    M("engine.task_run_s", "s", "lower"),
    M("engine.task_cpu_s", "s", "lower"),
    M("engine.task_busy_frac", "ratio", "higher"),
    M("engine.task_skew", "ratio", "lower"),
    M("engine.shuffle_write_mb", "MB", "lower"),
    M("engine.shuffle_read_mb", "MB", "lower"),
    M("engine.spill_mb", "MB", "lower"),
    M("engine.gc_s", "s", "lower"),
    M("trace.overhead_frac", "ratio", "lower"))
}

/** Runs one workload for one seed and writes the result and artifacts.
  *
  * {{{
  * perfbench.Main --workload parse --seed 1 --seconds 10 --trace 0 \
  *   --work <work dir> --result <result.json> --artifacts <dir>
  * }}}
  *
  * Set-up (session build plus one warm-up unit on the run's inputs) runs
  * three times, stopping the session in between; the last session
  * measures. Only the first set-up is cold (classes loaded, JIT cold):
  * `setup_s`, the median, is a rebuild in a warm JVM, and the cold
  * session build is `api.session_build_s`. Warming up on the real inputs lets the JIT compile the hot
  * paths before the clock starts: on a small warm-up input, the first
  * measured units ran up to 25% slower than the later ones. After the
  * last set-up, the workload's `settlePasses` untimed passes run: the
  * JIT keeps compiling Spark's planner and the program's functions for
  * many passes, and without them the first measured units of a parse
  * run were a third slower than its later ones.
  * A run then repeats units until their summed wall time reaches
  * `--seconds` (at least `MinUnits`). Each unit's output is checked after
  * its clock stops. With `--trace 1` odd units are traced (every layer
  * call materialized and timed, engine counters read) and even units
  * are not; the ratio of their medians is the tracing overhead. The
  * engine counters are read around every unit, outside its clock, and
  * reported from the untraced units, whose plans are the pipeline's
  * own. */
object Main {
  val Setups = 3
  val MinUnits = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)
    val workload = Workload(workloadName, seed)

    val layers = new LayerSamples
    val plain = new Tracer(false)
    val tracer = new Tracer(trace)

    // ---- set-up, repeated; input generation is timed apart -----------------
    val setupS = ArrayBuffer.empty[Double]
    val buildS = ArrayBuffer.empty[Double]
    var genS = 0.0
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val tb = System.nanoTime()
      if (k == 0) {
        workload.generate(spark, work)
        genS = (System.nanoTime() - tb) / 1e9
      }
      val tw = System.nanoTime()
      workload.warmup(new Ctx(spark, work, plain, new LayerSamples, None))
      val t1 = System.nanoTime()
      buildS += (tb - t0) / 1e9
      setupS += ((tb - t0) + (t1 - tw)) / 1e9
    }
    val settle = new Ctx(spark, work, plain, new LayerSamples, None)
    for (_ <- 0 until workload.settlePasses) workload.warmup(settle)
    val probe = if (trace) Some(new EngineProbe(spark)) else None
    val plainCtx = new Ctx(spark, work, plain, layers, None)
    val tracedCtx = new Ctx(spark, work, tracer, layers, probe)

    // ---- measured units ----------------------------------------------------
    final case class Done(i: Int, traced: Boolean, wallS: Double, cpuS: Double, docs: Long,
        errors: Seq[String], engine: Option[EngineWindow], startMs: Long, endMs: Long)
    val done = ArrayBuffer.empty[Done]
    var measured = 0.0
    var heapMb = 0.0
    val runStart = System.nanoTime()
    def wanted: Boolean =
      done.size < MinUnits || (trace && done.count(_.traced) < 2) ||
        (measured < seconds && (System.nanoTime() - runStart) / 1e9 < 3 * seconds)
    while (wanted) {
      val i = done.size
      val traced = trace && i % 2 == 1
      val ctx = if (traced) tracedCtx else plainCtx
      val before = probe.map(_.snapshot())
      tracer.beginUnit(i)
      val ms0 = System.currentTimeMillis()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val r = ctx.step("unit")(workload.unit(ctx, i))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val ms1 = System.currentTimeMillis()
      val engine = for (b <- before; p <- probe) yield p.snapshot().since(b)
      val errors = scala.util.Try(r.check()).fold(e => Seq(s"check failed: $e"), identity)
      if (traced) workload.probes(ctx, i)
      measured += wall
      done += Done(i, traced, wall, cpu, r.docs, errors, engine, ms0, ms1)
      errors.take(5).foreach(e => System.err.println(s"unit $i: $e"))
      // Spark's status store keeps every pass's jobs and queries (a curate
      // pass adds ~7 MB), so the heap is read after the MinUnits-th unit,
      // outside its clock, not at the end of a run whose unit count
      // follows its speed
      if (done.size == MinUnits) heapMb = retainedHeapMb()
    }

    // ---- end of run: cache state ---------------------------------------------
    val (cacheMb, cachedRdds) = EngineProbe.cacheState(spark.sparkContext)
    probe.foreach(_.close())

    val plainUnits = done.filterNot(_.traced)
    val tracedUnits = done.filter(_.traced)
    val failed = done.count(_.errors.nonEmpty)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "docs_per_s" -> Stats.median(plainUnits.map(u => u.docs / u.wallS).toSeq),
      "retained_heap_mb" -> heapMb)

    val metrics: Map[String, Double] =
      if (!trace) e2e
      else layerMetrics(tracedUnits.map(_.i).toSeq, tracedUnits.map(_.wallS).toSeq,
        plainUnits.map(u => (u.wallS, u.engine.get, u.startMs, u.endMs)).toSeq,
        tracer, layers, buildS.head, cacheMb, cachedRdds, cores)

    val defs = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> done.size,
      "failed" -> failed,
      "metrics" -> defs.map(m => m.name -> Map("value" -> metrics(m.name), "unit" -> m.unit)).toMap)
    val detail = Json.obj(
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "generate_s" -> genS, "setup_s" -> setupS.toSeq, "session_build_s" -> buildS.toSeq,
      "units" -> done.map(u => Map("i" -> u.i, "traced" -> u.traced, "wall_s" -> u.wallS,
        "cpu_s" -> u.cpuS, "docs" -> u.docs, "errors" -> u.errors.take(20))).toSeq,
      "unit_p50_s" -> Stats.median(plainUnits.map(_.wallS).toSeq),
      "unit_p90_s" -> Stats.quantile(plainUnits.map(_.wallS).toSeq, 0.9),
      "failed_frac" -> failed.toDouble / done.size,
      "metrics" -> metrics,
      "span_self_s" -> {
        val self = done.filter(_.traced).map(u => tracer.selfSeconds(u.i))
        self.flatMap(_.keys).distinct.map(n => n -> Stats.median(self.map(_.getOrElse(n, 0.0)).toSeq)).toMap
      })
    spark.stop()
    write(Paths.get(arg("result")), result)
    val artifacts = Paths.get(arg("artifacts"))
    Files.createDirectories(artifacts)
    val stem = s"$workloadName-seed$seed-" + (if (trace) "layers" else "e2e")
    write(artifacts.resolve(s"$stem.json"), detail)
    if (trace) write(artifacts.resolve(s"$workloadName-seed$seed-spans.json"), tracer.toJson)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.api.GraftSession.builder(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** CPU time of every thread of this process: the JVM's own threads
    * (tasks, driver, JIT, GC) together. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Spans from the traced units; engine counters from the untraced
    * ones (wall, window, start and end ms). */
  private def layerMetrics(tracedIds: Seq[Int], tracedWalls: Seq[Double],
      plain: Seq[(Double, EngineWindow, Long, Long)], tracer: Tracer, layers: LayerSamples,
      coldBuildS: Double, cacheMb: Double, cachedRdds: Int, cores: Int): Map[String, Double] = {
    def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    val self = tracedIds.map(tracer.selfSeconds)
    def spanS(name: String): Double = med(self.map(_.getOrElse(name, 0.0)))
    def eng(f: EngineWindow => Double): Double = med(plain.map(t => f(t._2)))
    Map(
      "api.session_build_s" -> coldBuildS,
      "api.parse_convert_s" -> spanS("api.parse_convert"),
      "sources.read_s" -> spanS("sources.read"),
      "sources.read_tasks" -> med(layers.readTasks),
      "sources.write_s" -> spanS("sources.write"),
      "sources.write_files" -> med(layers.writeFiles),
      "functions.parse_file_us_p50" -> med(layers.parseFileUs),
      "functions.parse_file_us_p90" -> (if (layers.parseFileUs.isEmpty) 0.0 else Stats.quantile(layers.parseFileUs.toSeq, 0.9)),
      "functions.convert_text_us_p50" -> med(layers.convertTextUs),
      "functions.fragments_per_doc" -> (if (layers.fragments.isEmpty) 0.0 else layers.fragments.sum / layers.fragments.size),
      "plans.parse_kernel_s" -> med(layers.kernels.getOrElse("plans.parse_kernel", Nil)),
      "plans.convert_kernel_s" -> med(layers.kernels.getOrElse("plans.convert_kernel", Nil)),
      "plans.nfc_kernel_s" -> med(layers.kernels.getOrElse("plans.nfc_kernel", Nil)),
      "operators.normalize_s" -> spanS("operators.normalize"),
      "operators.gopher_s" -> spanS("operators.gopher"),
      "operators.dedup_lines_s" -> spanS("operators.dedup_lines"),
      "operators.near_dup_keep_best_s" -> spanS("operators.near_dup_keep_best"),
      "cache.resident_mb_end" -> cacheMb,
      "cache.persisted_rdds_end" -> cachedRdds.toDouble,
      "cache.peak_mb" -> layers.cachePeakMb,
      "engine.jobs" -> eng(_.jobs),
      "engine.stages" -> eng(_.stages),
      "engine.tasks" -> eng(_.tasks),
      "engine.plan_ms" -> eng(_.planMs),
      "engine.driver_s" -> med(plain.map { case (_, w, s, e) => EngineProbe.uncoveredMs(s, e, w.jobIntervals) / 1e3 }),
      "engine.task_run_s" -> eng(_.taskRunS),
      "engine.task_cpu_s" -> eng(_.taskCpuS),
      "engine.task_busy_frac" -> med(plain.map { case (wall, w, _, _) => w.taskRunS / (wall * cores) }),
      "engine.task_skew" -> eng(w => med(w.stageSkews)),
      "engine.shuffle_write_mb" -> eng(_.shuffleWriteMb),
      "engine.shuffle_read_mb" -> eng(_.shuffleReadMb),
      "engine.spill_mb" -> eng(_.spillMb),
      "engine.gc_s" -> eng(_.gcS),
      "trace.overhead_frac" -> (med(tracedWalls) / med(plain.map(_._1)) - 1))
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, (s + "\n").getBytes(UTF_8))
  }
}
