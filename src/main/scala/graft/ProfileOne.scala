package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job / per-stage wall-clock profile of one registered query —
  * the measure-first instrument for optimization rounds. Prints, for a
  * warmed JVM (rep 2+), every job with its wall time, its stages with
  * task counts and total task time, and the GAPS between jobs (driver
  * think time: planning, scalar fetches, loop bookkeeping). A query
  * whose wall clock is mostly inter-job gap or many small jobs is
  * orchestration-bound, not data-bound.
  *
  * Usage: runMain graft.ProfileOne <sfDir> <key[,key...]> [reps]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local("ProfileOne")

    case class StageRec(id: Int, name: String, nTasks: Int,
                        taskMs: Long, wallMs: Long)
    case class JobRec(id: Int, t0: Long, t1: Long,
                      stages: mutable.Buffer[StageRec])
    val jobs = mutable.Buffer[JobRec]()
    val stageToJob = mutable.Map[Int, JobRec]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val j = JobRec(e.jobId, e.time, -1, mutable.Buffer())
        jobs.synchronized { jobs += j }
        e.stageIds.foreach(s => stageToJob.synchronized { stageToJob(s) = j })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.zipWithIndex.find(_._1.id == e.jobId).foreach { case (j, ix) =>
            jobs(ix) = j.copy(t1 = e.time, stages = j.stages)
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        val rec = StageRec(si.stageId, si.name.takeWhile(_ != '\n').take(60),
          si.numTasks, si.taskMetrics.executorRunTime, wall)
        stageToJob.synchronized {
          stageToJob.get(si.stageId).foreach(_.stages += rec)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    keys.foreach { key =>
      val fn = SparkEntry.queries(key)
      // warmup rep(s): JIT + codegen + parquet footers
      (1 until reps).foreach { _ =>
        GraftSession.reset(spark)
        fn(spark, sfDir).count()
      }
      GraftSession.reset(spark)
      jobs.synchronized { jobs.clear() }
      stageToJob.synchronized { stageToJob.clear() }
      record = true
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      record = false

      println(f"\n=== $key: wall ${wall}%.3f s, rows $n, ${jobs.size} jobs ===")
      val sorted = jobs.synchronized { jobs.sortBy(_.t0) }
      var prevEnd = -1L
      var totalGap = 0L
      var totalJob = 0L
      sorted.foreach { j =>
        val gap = if (prevEnd < 0) 0L else math.max(0L, j.t0 - prevEnd)
        totalGap += gap
        val dur = if (j.t1 < 0) -1L else j.t1 - j.t0
        totalJob += math.max(0L, dur)
        val st = j.stages.sortBy(_.id).map(s =>
          s"s${s.id}[${s.nTasks}t ${s.wallMs}w ${s.taskMs}cpu]").mkString(" ")
        println(f"job ${j.id}%4d  +${gap}%5d ms gap  ${dur}%6d ms  $st")
        prevEnd = math.max(prevEnd, j.t1)
      }
      println(f"total job time ${totalJob} ms, total inter-job gap ${totalGap} ms, wall ${wall * 1000}%.0f ms")
    }
    spark.stop()
  }
}
