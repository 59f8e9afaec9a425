package graft

/** Per-job / per-stage wall-clock profile of one registered query —
  * the measure-first instrument for optimization rounds. Prints, for a
  * warmed JVM (rep 2+), every job with its wall time, its stages with
  * task counts and total task time, its call site, and the GAPS between
  * jobs (driver think time: planning, scalar fetches, loop bookkeeping),
  * then the jobs per call site. A query whose wall clock is mostly
  * inter-job gap or many small jobs is orchestration-bound, not
  * data-bound. The profiled rep runs under [[JobLedger]], which keeps
  * deep call sites to name each job's operator.
  *
  * Usage: runMain graft.ProfileOne <sfDir> <key[,key...]> [reps]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local("ProfileOne")

    keys.foreach { key =>
      val fn = SparkEntry.queries(key)
      // warmup rep(s): JIT + codegen + parquet footers
      Probe.reps(spark, reps - 1, s"[profile] $key warmup")(fn(spark, sfDir).count())
      GraftSession.reset(spark)
      val ((n, wall), jobs) =
        JobLedger.during(spark)(Probe.timed(fn(spark, sfDir).count()))

      println(f"\n=== $key: wall ${wall}%.3f s, rows $n, ${jobs.size} jobs ===")
      var prevEnd = -1L
      var totalGap = 0L
      var totalJob = 0L
      jobs.sortBy(_.startMs).foreach { j =>
        val gap = if (prevEnd < 0) 0L else math.max(0L, j.startMs - prevEnd)
        totalGap += gap
        val dur = if (j.endMs < 0) -1L else j.endMs - j.startMs
        totalJob += math.max(0L, dur)
        val st = j.stages.map(s =>
          s"s${s.id}[${s.tasks}t ${s.wallMs}w ${s.cpuMs}cpu]").mkString(" ")
        println(f"job ${j.id}%4d  +${gap}%5d ms gap  ${dur}%6d ms  $st  @ ${j.site}")
        prevEnd = math.max(prevEnd, j.endMs)
      }
      println(f"total job time ${totalJob} ms, total inter-job gap ${totalGap} ms, wall ${wall * 1000}%.0f ms")
      println(s"jobs by site:\n${JobLedger.bySite(jobs)}")
    }
    spark.stop()
  }
}
