package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The optimized plans of every query a block runs, pins included. A
  * pinned frame's own plan is one `LogicalRDD` leaf, so a plan check on
  * an operator that pins looks at the queries that built its pins. */
object PlanCapture {
  def during(spark: SparkSession)(f: => Any): Seq[LogicalPlan] = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      f
      SparkBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }
}
