package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans that `localCheckpoint` pins executed while
  * `build` ran. A pinned frame prints as `Scan ExistingRDD` in every
  * plan that reads it, so a plan-shape spec that pins a property of
  * the pinned subtree inspects these plans instead. */
object PinPlans {
  private val Fence = "pin-plans-fence"

  def capture(spark: SparkSession)(build: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    val fenced = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
        else if (qe.analyzed.toString.contains(Fence)) fenced.countDown()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      build
      // listener events arrive asynchronously but in order: once the
      // fence query's event is in, every pin's event before it is too
      spark.range(1).select(lit(Fence)).collect()
      assert(fenced.await(30, TimeUnit.SECONDS), "the fence query's listener event never arrived")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }
}
