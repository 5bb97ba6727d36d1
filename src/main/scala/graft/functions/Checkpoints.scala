package graft.functions

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative ops, and the one way an
  * operator pins an intermediate that several consumers read, honoring
  * the session's fault-tolerance configuration.
  *
  * Lifetime of a pin: the truncated frame reads blocks registered with
  * Spark's ContextCleaner (checkpoint files too, when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`), so they
  * live as long as some frame reads them and are dropped on the
  * cleaner's next GC-driven sweep after that — no release handle, no
  * plan-keyed `CacheManager` entry. Pins are EAGER (the default): the
  * intermediate is computed once, when the operator builds its plan.
  * A lazy pin is checkpointed at the end of the first job that reads
  * it, which drops its lineage while a concurrent job of the same query
  * (an AQE broadcast build or shuffle stage reading the same pin) may
  * still be running; that job's SQL metric accumulators can then be
  * garbage-collected under it ("Failed to update accumulator" errors,
  * lost metrics). `eager = false` is for a loop whose only next action
  * reads the frame.
  *
  * `localCheckpoint` blocks live only in executor storage: fast (no
  * distributed-FS write) but NOT fault-tolerant — on a cluster, losing
  * one executor mid-loop aborts the job and restarts the whole
  * computation. That is the right trade locally and at bench SF, and
  * the wrong one for a multi-hour 100 TB pagerank/dedup-cc run, where
  * each superstep should restart from the last RELIABLE cut instead of
  * from zero.
  *
  * Mode (`spark.graft.checkpoint.reliable`, runtime-settable):
  *  - `auto` (default): reliable iff the context has a checkpoint dir
  *    (`sc.setCheckpointDir` — the cluster deployment signal; local
  *    sessions never set one, so the bench keeps localCheckpoint).
  *  - `never`: always localCheckpoint (escape hatch — e.g. a cluster
  *    session whose checkpoint dir serves other jobs).
  *
  * Reliable-mode caveats (Spark's own): checkpoint files accumulate
  * until application end unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`. Reliable
  * truncation is always EAGER and persists the input around the write:
  * a bare `checkpoint()` runs the lineage TWICE (once for the action,
  * once when doCheckpoint re-executes the RDD to write files — the
  * standard Spark caveat), which on the multi-hour runs this mode
  * exists for would double every superstep; the transient
  * MEMORY_AND_DISK pin makes the write job a cache read, and is
  * released as soon as the checkpoint files exist. The `eager = false`
  * deferral is honored in LOCAL mode only — it is a job-count
  * optimization, and in reliable mode the extra cache-read job is the
  * price of fault tolerance. */
object Checkpoints {
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sp = df.sparkSession
    val mode = sp.conf.get("spark.graft.checkpoint.reliable", "auto")
    val reliable = mode match {
      case "never" => false
      case "auto"  => sp.sparkContext.getCheckpointDir.isDefined
      case other =>
        // Fail fast on typos: a silent fallback to auto would re-enable
        // per-superstep reliable checkpoints when the user asked "never".
        sys.error(s"spark.graft.checkpoint.reliable must be 'auto' or 'never', got '$other'")
    }
    if (reliable) {
      val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try pinned.checkpoint(eager = true)
      finally pinned.unpersist(blocking = false)
    } else df.localCheckpoint(eager)
  }
}
