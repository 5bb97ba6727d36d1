package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 for a unit's root); spans of one unit share `unit`. */
final case class Span(id: Int, parent: Int, unit: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var unit = -1

  def beginUnit(u: Int): Unit = { unit = u; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the call returns
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, unit, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span name within one unit: duration minus the part
    * covered by child spans. */
  def selfSeconds(u: Int): Map[String, Double] = {
    val mine = spans.filter(s => s != null && s.unit == u)
    val childTime = mine.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    mine.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def toJson: String = Json.arr(spans.filter(_ != null).map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "unit" -> s.unit, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq)
}

/** Engine counters for a window of work, read from a SparkListener and a
  * QueryExecutionListener the benchmark registers on the session. */
final case class EngineWindow(
    jobs: Int, stages: Int, tasks: Int, taskRunS: Double, taskCpuS: Double,
    gcS: Double, shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    planMs: Double, jobIntervals: Seq[(Long, Long)], stageSkews: Seq[Double]) {
  /** The counters accumulated between snapshot `earlier` and this one. */
  def since(earlier: EngineWindow): EngineWindow = EngineWindow(
    jobs - earlier.jobs, stages - earlier.stages, tasks - earlier.tasks,
    taskRunS - earlier.taskRunS, taskCpuS - earlier.taskCpuS, gcS - earlier.gcS,
    shuffleWriteMb - earlier.shuffleWriteMb, shuffleReadMb - earlier.shuffleReadMb,
    spillMb - earlier.spillMb, planMs - earlier.planMs,
    jobIntervals.drop(earlier.jobIntervals.size), stageSkews.drop(earlier.stageSkews.size))
}

final class EngineProbe(spark: SparkSession) extends SparkListener {
  private val Marker = "perfbench.marker"
  private var markerSeen = 0L
  private val markerJobs = scala.collection.mutable.HashSet.empty[Int]
  private val markerStages = scala.collection.mutable.HashSet.empty[Int]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val taskTimes = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  private var acc = EngineWindow(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Vector.empty, Vector.empty)

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = addPlan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPlan(qe)
  }
  private def addPlan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    synchronized { acc = acc.copy(planMs = acc.planMs + ms) }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(planListener)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(Marker) != null)) {
      markerJobs += e.jobId; markerStages ++= e.stageIds
    } else {
      jobStart(e.jobId) = e.time
      acc = acc.copy(jobs = acc.jobs + 1)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) { markerSeen += 1; notifyAll() }
    else jobStart.remove(e.jobId).foreach(s => acc = acc.copy(jobIntervals = acc.jobIntervals :+ ((s, e.time))))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (!markerStages.remove(id)) {
      acc = acc.copy(stages = acc.stages + 1)
      taskTimes.remove(id).filter(_.size >= 2).foreach { ts =>
        val mean = ts.sum.toDouble / ts.size
        if (mean > 0) acc = acc.copy(stageSkews = acc.stageSkews :+ ts.max / mean)
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (!markerStages.contains(e.stageId) && m != null) {
      taskTimes.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
      acc = acc.copy(
        tasks = acc.tasks + 1,
        taskRunS = acc.taskRunS + m.executorRunTime / 1e3,
        taskCpuS = acc.taskCpuS + m.executorCpuTime / 1e9,
        gcS = acc.gcS + m.jvmGCTime / 1e3,
        shuffleWriteMb = acc.shuffleWriteMb + m.shuffleWriteMetrics.bytesWritten / 1e6,
        shuffleReadMb = acc.shuffleReadMb + m.shuffleReadMetrics.totalBytesRead / 1e6,
        spillMb = acc.spillMb + (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
    }
  }

  /** Runs a one-task marker job and waits until this listener has seen
    * its end: every event posted before it has then been delivered. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val before = synchronized(markerSeen)
    sc.setLocalProperty(Marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Marker, null)
    val deadline = System.currentTimeMillis() + 10000
    synchronized {
      while (markerSeen == before && System.currentTimeMillis() < deadline) wait(50)
    }
  }

  /** Counters accumulated since the probe was registered. */
  def snapshot(): EngineWindow = { drain(); synchronized(acc) }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }
}

object EngineProbe {
  /** Wall time of [t0, t1] (ms) not covered by any job interval. */
  def uncoveredMs(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = t0
    for ((s, e) <- jobs.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.filter(j => j._2 > j._1).sortBy(_._1)) {
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (t1 - t0) - covered
  }

  /** Cached bytes (MB) and persisted RDD count held by the context. */
  def cacheState(sc: SparkContext): (Double, Int) =
    (sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6, sc.getPersistentRDDs.size)
}
