package graft

import org.apache.spark.sql.DataFrame
import Probe.r3

/** STAGE-LEVEL PROFILE of the production-tau banded near-dup pipeline —
  * the measurement behind any optimization of the `emb_neardup_prod*`
  * factor-100 ratios (17.7x / 23.0x at r20): the pipeline has four
  * separable cost centers and the right fix differs completely by
  * which one dominates, so the profile is a committed artifact, not a
  * guess.
  *
  *   1. `derive`  — the planted-corpus scan + union (I/O floor);
  *   2. `band`    — per-band signature compute + posexplode (the
  *                  widened arm computes bands x r hyperplane bits per
  *                  row — the CPU-bound stage);
  *   3. `gather`  — the capped bucket groupBy + map-side pair explode
  *                  + distinct (the shuffle-bound stage);
  *   4. `full`    — everything incl. the two embedding-fetch joins and
  *                  the exact cosine verify (full minus gather ~= the
  *                  verify-join stage).
  *
  * Stages nest (each includes its predecessors), so per-stage cost is
  * the delta between adjacent timings. Usage:
  * runMain graft.ProdProfile [dir] [tau] [targetOcc] — defaults
  * (/tmp/graft_sf1, 0.9, 1024); emits one JSON line. */
object ProdProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sf1")
    val tau = args.lift(1).map(_.toDouble).getOrElse(0.9)
    val targetOcc = args.lift(2).map(_.toLong).getOrElse(1024L)
    val spark = GraftSession.local("ProdProfile")
    import operators.Similarity

    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    def timeOne(stage: String)(mk: => DataFrame): (Double, Long) = {
      var rows = 0L
      val ts = Probe.reps(spark, reps, s"[prod] $stage") { rows = mk.count() }
      (ts.min, rows)
    }

    val (corpus, _, plan) =
      Similarity.prodDerivedPairs(spark, dir, tau, targetOcc = targetOcc)
    def banded: DataFrame =
      Similarity.bandedBuckets(corpus, plan.r, plan.bands, 64, 8)
    // the engine's own gather seam, the one capped bucket-pair gather
    // (Dedup.bucketPairs) that nearDupLshOf runs: a hand copy here would
    // silently measure a different plan if that gather changes
    def gathered: DataFrame =
      Similarity.cappedBucketPairs(banded, plan.cap.toInt)

    val (tDerive, nCorpus) = timeOne("derive")(corpus)
    val (tBand, nBanded) = timeOne("band")(banded)
    val (tGather, nCands) = timeOne("gather")(gathered)
    val (tFull, nPairs) =
      timeOne("full")(Similarity.prodPairsChecked(spark, dir, tau,
        targetOcc = targetOcc))
    println(s"""{"metric":"prod_profile","dir":"$dir","tau":$tau,""" +
      s""""target_occ":$targetOcc,"reps":$reps,""" +
      s""""plan":{"arm":"${plan.arm}","r":${plan.r},""" +
      s""""bands":${plan.bands},"cap":${plan.cap}},""" +
      s""""stages":{"derive":{"sec":${r3(tDerive)},"rows":$nCorpus},""" +
      s""""band":{"sec":${r3(tBand)},"rows":$nBanded},""" +
      s""""gather":{"sec":${r3(tGather)},"rows":$nCands},""" +
      s""""full":{"sec":${r3(tFull)},"rows":$nPairs}}}""")
    spark.stop()
  }
}
