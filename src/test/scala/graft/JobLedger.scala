package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.graftbus.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Test-side job ledger: the Spark jobs a block starts, each with the
  * graft call site that issued it — the first `graft.` frame (test
  * classes skipped) of its final stage's creation stack
  * (`StageInfo.details`), or, for a job Spark SQL submits from its own
  * threads (an adaptive query stage), of the stack that started its SQL
  * execution. */
object JobLedger {
  final case class Job(id: Int, site: String)

  private val CallStackDepth = "spark.callstack.depth"

  /** `f`'s result and the jobs started while it ran, in start order. */
  def during[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, (Option[String], Option[String])]()
    val executions = new ConcurrentHashMap[String, String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (
          j.stageInfos.sortBy(_.stageId).lastOption.flatMap(s => graftFrame(s.details)),
          Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))))
        ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          graftFrame(x.details).foreach(executions.put(x.executionId.toString, _))
        case _ =>
      }
    }
    Bus.drain(sc)
    sc.addSparkListener(l)
    // a call site keeps 20 stack frames by default, too few to reach the
    // graft frame beneath Spark SQL's own
    val depth = Option(System.getProperty(CallStackDepth))
    System.setProperty(CallStackDepth, "400")
    try {
      val r = f
      Bus.drain(sc)
      (r, jobs.asScala.toSeq.sortBy(_._1).map { case (id, (own, exec)) =>
        Job(id, own.orElse(exec.flatMap(x => Option(executions.get(x))))
          .getOrElse("(no graft frame: the caller's action)"))
      })
    } finally {
      sc.removeSparkListener(l)
      depth.fold(System.clearProperty(CallStackDepth))(
        System.setProperty(CallStackDepth, _))
    }
  }

  private def graftFrame(stack: String): Option[String] =
    stack.split("\n").map(_.trim).find(f =>
      f.startsWith("graft.") && !f.matches("""graft\.\w*(Spec|JobLedger)\b.*"""))

  /** Jobs per call site, most first: the breakdown a failed count prints. */
  def bySite(jobs: Seq[Job]): String =
    jobs.groupBy(_.site).toSeq.sortBy { case (s, js) => (-js.size, s) }
      .map { case (s, js) => f"${js.size}%4d  $s" }.mkString("\n")
}
