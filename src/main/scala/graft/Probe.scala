package graft

import org.apache.spark.sql.SparkSession
import org.json4s._

/** The one measurement harness of the bench and probe mains: the only
  * wall-clock timer, the between-reps protocol, the 3-decimal number
  * format of their JSON lines, the JSON-number reader for the artifacts
  * they compare against, and the `SPARK_GRAFT_ONLY` key subset. Job- and
  * stage-level records come from [[JobLedger]]. */
object Probe {

  /** `body`'s result and its wall time in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Every rep's time of `n` runs of `body`, each after
    * [[GraftSession.reset]]: a frame persisted or pinned by one rep, and
    * handed to this scope-less caller, would otherwise stay in the block
    * manager and squeeze the unified memory region, so later reps and
    * keys paid eviction and spill churn instead of their own cost (the
    * round-7 geo_knn "regression", 7.7 s there vs 0.6 s isolated; the r16
    * ann_nndescent reps growing 27 -> 60 -> 159 s). A rep that throws is
    * logged under `what` and reads -1, so a broken key reads as broken,
    * not as a fast time (the reps' min is -1 exactly when one failed),
    * and the remaining reps still run. */
  def reps(spark: SparkSession, n: Int, what: String)(body: => Any): Seq[Double] =
    (1 to n).map { _ =>
      GraftSession.reset(spark)
      try timed(body)._2
      catch { case e: Throwable =>
        System.err.println(s"$what FAILED: ${e.getMessage}")
        -1.0
      }
    }

  /** `v` to 3 decimals (ms resolution is all GC noise allows), or `-1`
    * for a failed measurement. */
  def r3(v: Double): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** A JSON number of any json4s representation, as a double. */
  def num(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** The keys `SPARK_GRAFT_ONLY=k1,k2` names, in order: the subset of
    * the registry a main runs, for local iteration (None runs all). */
  def only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
}
