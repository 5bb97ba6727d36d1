package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

/** Lifetime of the intermediates the operator cores pin. Each pin is a
  * `Checkpoints.truncate` (a local checkpoint in these local sessions):
  * Spark registers its blocks with the ContextCleaner, so they live exactly as long as some frame that
  * reads them. Two properties follow, both pinned here:
  *  - a long-lived session that calls the pinning APIs again and again
  *    and drops every result comes back to its baseline persisted-RDD
  *    count and storage memory;
  *  - a second action on a result the caller KEPT reads the pinned
  *    blocks and runs no stage over the source.
  * The first is GC-dependent by nature (the cleaner acts on collected
  * references), so it polls with explicit GC plus allocation pressure.
  */
class IntermediateLifetimeSpec extends AnyFunSuite {
  import IntermediateLifetimeSpec._
  private lazy val spark = SparkTestSession.spark

  private val boiler = "subscribe to our newsletter for weekly updates and more news"
  private def corpus(n: Int): Seq[(Long, String)] = (0 until n).flatMap { i =>
    val body = s"document $i talks about topic ${i % 7} with words alpha$i beta$i " +
      s"gamma${i % 3} delta epsilon zeta eta theta iota kappa lambda mu"
    // every doc carries the boilerplate line; every third doc has a
    // near-duplicate with one trailing token appended
    Seq((2L * i, s"$boiler $body")) ++
      (if (i % 3 == 0) Seq((2L * i + 1, s"$boiler $body extra")) else Nil)
  }

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  /** `rows` as a frame whose every scan of a source row bumps `acc`. */
  private def countingSource(rows: Seq[(Long, String)], acc: LongAccumulator): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2).map { case (id, t) =>
      acc.add(1); Row(id, t)
    }, schema)
  }

  private def triage(src: DataFrame): DataFrame = {
    val history = src.filter(col("doc_id") % 4 === 0)
    val batch = src.filter(col("doc_id") % 4 =!= 0)
    api.Graft.ingestTriage(history, batch, "doc_id", "text")
  }

  private val apis: Seq[(String, DataFrame => DataFrame)] = Seq(
    "dedupLines" -> (df => api.Graft.dedupLines(df)),
    "nearDupKeepBest" -> (df => api.Graft.nearDupKeepBest(df, col("doc_id"), col("text"))),
    "ingestTriage" -> triage)

  private def callAndDrop(f: DataFrame => DataFrame, i: Int): Int =
    pinsHeldWhileLive(spark)(f(frame(corpus(20 + i))))

  test("repeated calls with dropped results leave no pinned blocks behind") {
    val sc = spark.sparkContext
    apis.foreach { case (_, f) => callAndDrop(f, 0) } // one-time wiring
    // earlier suites' unreachable frames are reaped here too, so the
    // baseline is taken after a fixed round of collections
    gcUntil(false, rounds = 10)
    val rddsBefore = sc.getPersistentRDDs.size
    val storageBefore = storageUsed
    for (i <- 1 to 4; (name, f) <- apis)
      assert(callAndDrop(f, i) > 0, s"$name must pin intermediates while its result is live")
    val clean = gcUntil(sc.getPersistentRDDs.size <= rddsBefore && storageUsed <= storageBefore)
    assert(clean,
      s"after 12 dropped results: ${sc.getPersistentRDDs.size} persisted RDDs " +
        s"(baseline $rddsBefore), $storageUsed storage bytes (baseline $storageBefore) — " +
        "either a pin outlives its result or this JVM never ran a full collection")
  }

  test("a kept result's second action reads the pinned blocks, not the source") {
    val rows = corpus(30)
    val n = rows.size.toLong
    def check(name: String, f: DataFrame => DataFrame, maxSecondScan: Long): Unit = {
      val acc = spark.sparkContext.longAccumulator(s"$name-source-rows")
      val out = f(countingSource(rows, acc))
      val first = out.collect().map(_.toString).sorted
      val afterFirst = acc.value
      assert(afterFirst > 0, s"$name: the first action must have scanned the source")
      val second = out.collect().map(_.toString).sorted
      assert(second.sameElements(first), s"$name: the second action changed the result")
      assert(acc.value - afterFirst <= maxSecondScan,
        s"$name: the second action scanned ${acc.value - afterFirst} source rows " +
          s"(allowed $maxSecondScan) — a pin was recomputed")
    }
    check("dedupLines", apis(0)._2, 0)
    check("ingestTriage", triage, 0)
    check("nearDupClusters", df => api.Graft.nearDupClusters(df, col("doc_id"), col("text")), 0)
    // keep-best joins the pinned clusters with a quality logit that rides
    // ONE scan of the source; the clustering itself is not recomputed
    check("nearDupKeepBest", apis(1)._2, n)
  }

  private def storageUsed: Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
}

object IntermediateLifetimeSpec {
  /** Builds `result`, writes it through a noop sink and returns how
    * many persisted RDDs appeared while it was live. The result is
    * unreachable once this returns. Counts new RDD ids, not a size
    * delta: the cleaner may reap older unreachable pins meanwhile. */
  def pinsHeldWhileLive(spark: SparkSession)(result: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = result
    out.write.format("noop").mode("overwrite").save()
    val held = (sc.getPersistentRDDs.keySet -- before).size
    java.lang.ref.Reference.reachabilityFence(out)
    held
  }

  /** Polls `done` for up to `rounds` rounds of explicit GC, allocation
    * pressure (a collection still happens where explicit GC is
    * disabled) and a pause for the ContextCleaner's thread; returns
    * the final value of `done`. */
  def gcUntil(done: => Boolean, rounds: Int = 50): Boolean = {
    var tries = 0
    while (!done && tries < rounds) {
      System.gc()
      (0 until 8).foreach { _ =>
        val ballast = new Array[Byte](4 << 20); ballast(ballast.length - 1) = 1
      }
      Thread.sleep(100)
      tries += 1
    }
    done
  }
}
