package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.SparkBridge

/** The job ledger: the Spark jobs a block starts, each with the graft
  * call site that issued it, its start and end times and its completed
  * stages. The site is the first `graft.` frame of the job's final stage's
  * creation stack (`StageInfo.details`), or, for a job Spark SQL submits
  * from its own threads (an adaptive query stage), of the stack that
  * started its SQL execution. `Pins` frames are skipped, as `Pins.pin`
  * skips them for its own call site, so a pinned job names the operator
  * that pinned; so are the ledger's own frames and test specs'. */
object JobLedger {
  /** A completed stage: its task count, its wall time from submission to
    * completion and its tasks' total executor run time, in ms. */
  final case class Stage(id: Int, tasks: Int, wallMs: Long, cpuMs: Long)
  /** A job: its call site, its start and end times (epoch ms; end -1 if
    * it had not ended when the block returned) and its completed stages. */
  final case class Job(id: Int, site: String, startMs: Long, endMs: Long,
                       stages: Seq[Stage])

  private val CallStackDepth = "spark.callstack.depth"

  /** `f`'s result and the jobs started while it ran, in start order. */
  def during[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = TrieMap.empty[Int, Job]
    val stageJob = TrieMap.empty[Int, Int]
    val executions = TrieMap.empty[String, String]
    def update(id: Int)(g: Job => Job): Unit = jobs.get(id).foreach(j => jobs(id) = g(j))
    val l = new SparkListener {
      // one bus queue delivers in post order, so an SQL execution's start
      // is recorded before its jobs start
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        val site = j.stageInfos.sortBy(_.stageId).lastOption.flatMap(s => graftFrame(s.details))
          .orElse(exec.flatMap(executions.get))
          .getOrElse("(no graft frame: the caller's action)")
        jobs(j.jobId) = Job(j.jobId, site, j.time, -1L, Vector.empty)
        j.stageIds.foreach(stageJob(_) = j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        update(j.jobId)(_.copy(endMs = j.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val wall = (for (b <- s.submissionTime; a <- s.completionTime) yield a - b)
          .getOrElse(-1L)
        stageJob.get(s.stageId).foreach(update(_)(j => j.copy(stages = j.stages :+
          Stage(s.stageId, s.numTasks, wall, s.taskMetrics.executorRunTime))))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          graftFrame(x.details).foreach(executions(x.executionId.toString) = _)
        case _ =>
      }
    }
    SparkBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    // a call site keeps 20 stack frames by default, too few to reach the
    // graft frame beneath Spark SQL's own
    val depth = Option(System.getProperty(CallStackDepth))
    System.setProperty(CallStackDepth, "400")
    try {
      val r = f
      SparkBridge.drainListenerBus(sc)
      (r, jobs.values.toSeq.sortBy(_.id).map(j => j.copy(stages = j.stages.sortBy(_.id))))
    } finally {
      sc.removeSparkListener(l)
      depth.fold(System.clearProperty(CallStackDepth))(
        System.setProperty(CallStackDepth, _))
    }
  }

  private def graftFrame(stack: String): Option[String] =
    stack.split("\n").map(_.trim).find(f =>
      f.startsWith("graft.") && !f.startsWith("graft.functions.Pins") &&
        !f.matches("""graft\.\w*(Spec|JobLedger)\b.*"""))

  /** Jobs per call site, most first. */
  def bySite(jobs: Seq[Job]): String =
    jobs.groupBy(_.site).toSeq.sortBy { case (s, js) => (-js.size, s) }
      .map { case (s, js) => f"${js.size}%4d  $s" }.mkString("\n")
}
