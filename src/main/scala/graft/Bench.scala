package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import Probe.r3
object Bench {
  /** Contention-vs-regression adjudication of per-key 2x breaches (the
    * r18 verdict ask: the judge and builder both did this by hand
    * every round). A breach in THIS run that a fresh-JVM PEER run of
    * the same build measures at-or-near pin is machine contention —
    * the shared box ran something else during that key — while a
    * breach every run reproduces is a genuine regression. Peer runs
    * come from `SPARK_GRAFT_BENCH_PEERS` (comma-separated bench JSON
    * paths) or the `bench_peers/` directory the builder refreshes with
    * fresh-JVM runs each round; peers of a STALE build would mask a
    * fresh regression, which is why the peer list rides the output —
    * the adjudication is auditable, not oracular.
    *
    * Returns key -> verdict for every breaching key:
    * "contention" (a MAJORITY of peers within 1.25x of pin and none
    * breaching — a lone at-pin peer among breaching ones no longer
    * decides, because committed peers can lag the build and one stale
    * at-pin artifact would then relabel a genuine fresh regression;
    * the r19 ADVICE item), "regression" (every peer also breaches 2x),
    * "inconclusive" (mixed or mid-band peer signals), "no_peer" (no
    * peer measured the key). */
  private[graft] def adjudicateBreaches(
      ratios: Map[String, Double],
      peers: Seq[Map[String, Double]],
      baseline: Map[String, Double]): Map[String, String] =
    ratios.collect { case (k, r) if r > 2.0 =>
      val peerRatios = peers.flatMap(_.get(k))
        .flatMap(t => baseline.get(k).collect { case b if b > 0 => t / b })
      val atPin = peerRatios.count(_ <= 1.25)
      val breaching = peerRatios.count(_ > 2.0)
      val verdict =
        if (peerRatios.isEmpty) "no_peer"
        else if (breaching == peerRatios.size) "regression"
        // STRICT majority (r20 ADVICE): an exact half at pin (1 of 2,
        // with the other mid-band) is a mixed signal -> inconclusive
        else if (breaching == 0 && atPin * 2 > peerRatios.size) "contention"
        else "inconclusive"
      k -> verdict
    }

  /** The `queries` map of a bench JSON artifact (absent file or
    * unparsable content -> None; the adjudication then degrades to
    * no_peer instead of crashing the bench). Only NonFatal errors
    * degrade — an OOM or linkage error mid-parse is the JVM failing,
    * not a peer file being junk, and must propagate (r19 ADVICE). */
  private[graft] def readQueriesMap(path: String): Option[Map[String, Double]] =
    try {
      import org.json4s._
      val root = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        "UTF-8"))
      root \ "queries" match {
        case JObject(fields) =>
          Some(fields.flatMap { case (k, v) => Probe.num(v).map(k -> _) }.toMap)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  /** Verification-free twins of the *Checked queries. A checked query's
    * plan runs operator + oracle-restatement verification in one job, so
    * its wall time conflates the two; timing the twin separates them —
    * the query key reports OPERATOR time (comparable round over round)
    * and `<name>__check` reports the verification surplus. */
  val rawTwins: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_distinct" -> ((s, d) => operators.Sketches.distinctUsers(s, d)),
    "sketch_quantiles" -> ((s, d) => operators.Sketches.valueQuantiles(s, d)),
    "stream_sketch_window" -> (streaming.EventStreams.sketchWindowBatch _),
    "text_fingerprint" -> (operators.TextAnalysis.fingerprint _),
    "dedup_minhash_lsh" -> ((s, d) => operators.Dedup.minhashCandidates(s, d)),
    "dedup_simhash" -> ((s, d) => operators.Dedup.simhashPairs(s, d)),
    "stream_cm_window" -> (streaming.EventStreams.cmWindowBatch _))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.local("Bench")
    // untimed warmup: JIT, codegen compiler, parquet footers for every
    // input table — otherwise whichever query touches a table first
    // absorbs its one-time open cost and the per-query times are noise
    try {
      SparkEntry.entry(spark).count()
      Tables.names.filterNot(_ == "events")
        .foreach(t => Tables.load(spark, sfDir, t).count())
      Tables.events(spark, sfDir).count() // special-cased ts normalization
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // profiling hooks: SPARK_GRAFT_ONLY=q1,q2 runs a subset;
    // SPARK_GRAFT_REPS=N times each query N times and keeps the minimum.
    // Default 3 reps + an explicit GC before each query: the queries share
    // one JVM, so a single pass leaves individual timings at the mercy of
    // GC pauses triggered by earlier queries (observed 1.2 s -> 8 s
    // swings); min-of-3 after a collection attributes time to the query.
    val only = Probe.only
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Every rep time is kept (not just the min): the per-rep spread in
    // the output file lets a one-off 17 s GC/environment outlier
    // self-identify (max >> median) without a same-machine judge rerun.
    // A failed rep reads -1, so a min below 0 marks a failed query.
    def timeReps(name: String, fn: (SparkSession, String) => DataFrame): Seq[Double] =
      Probe.reps(spark, reps, s"[bench] $name")(fn(spark, sfDir).count())
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // per query: (operator time, verification surplus, full gate time,
    // full-gate per-rep samples — the spread record)
    val results: Map[String, (Double, Option[Double], Double, Seq[Double])] =
      selected.map { case (name, fn) =>
        val tRaw = rawTwins.get(name).map(timeReps(name, _).min)
        val fullReps = timeReps(name, fn)
        val tFull = fullReps.min
        if (tFull < 0 || tRaw.exists(_ < 0))
          name -> (-1.0, tRaw.map(_ => -1.0), -1.0, Nil)
        // noise clamp: the operator can't cost more than op+check, so a
        // raw sample above the full sample reads as full
        else name -> (tRaw.fold(tFull)(math.min(_, tFull)),
          tRaw.map(r => math.max(0.0, tFull - r)), tFull, fullReps)
      }
    val failed = results.collect { case (k, (_, _, f, _)) if f < 0 => k }.toSeq.sorted
    // environment fingerprint: heap ceiling, GC algorithm, physical
    // cores, and a WARM reference-query time (q1 min-of-3 after the
    // suite — the same table scan + agg every round runs), so a
    // cross-round or cross-machine outlier (r8's 17.5 s q40, r9's
    // geo_knn) can be attributed to the box, not the plan, without a
    // same-machine judge rerun
    val envRef = timeReps("_env_ref_q1", SparkEntry.queries("q1_pricing_summary")).min
    val gcAlgo = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .stream.map[String](_.getName).toArray.mkString("+")
    // shuffle_partitions recorded explicitly: the r10 red-gate class
    // (cross-partitioning float-sum drift) is a function of exactly
    // this knob, so the fingerprint must make a driver/builder
    // partitioning mismatch visible at a glance
    val envJson = s"""{"heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)},"gc":"$gcAlgo","cpus":${Runtime.getRuntime.availableProcessors()},"spark_cpus":$cpus,"shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},"java":"${System.getProperty("java.version")}","warm_ref_q1_sec":${r3(envRef)}}"""
    // Full per-query record to a FILE: the driver's stdout capture keeps
    // only a tail, which in round 7 truncated ~56 of 131 per-query times
    // and let a 2.3x regression hide outside the slowest-10. The file is
    // the round-over-round comparison surface; stdout keeps the summary.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // The harness keeps only the LAST ~2000 chars of stdout. Keep the line
    // small (3 dp) and put the headline total/failed/sf AFTER the
    // per-query map so they survive even if the map's head is truncated
    // out of the tail window.
    // failed queries appear ONLY in the `failed` array — a -1 inside the
    // queries map skews any consumer computing means/ratios over it
    val qs = results.flatMap { case (k, (op, check, f, _)) =>
      if (f < 0) Nil
      else Seq(s"\"" + k + "\":" + r3(op)) ++
        check.map(c => s"\"" + k + "__check\":" + r3(c))
    }.mkString("{", ",", "}")
    // per-query [min, median, max] of the full-gate reps — the noise
    // adjudication record (a driver-run outlier shows as max >> median)
    val spread = results.toSeq.sortBy(_._1).collect {
      case (k, (_, _, f, rs)) if f >= 0 && rs.nonEmpty =>
        val sorted = rs.sorted
        val med = sorted(sorted.size / 2)
        s"\"" + k + "\":[" + r3(sorted.head) + "," + r3(med) + "," +
          r3(sorted.last) + "]"
    }.mkString("{", ",", "}")
    // mechanical "within 2x of BASELINE" gate: BASELINE.json pins the
    // r13 per-query wall-times (same machine, same sf, min-of-3); each
    // run reports its worst and median ratio against the pinned keys so
    // the regression check is a number in the bench artifact, not a
    // judge-side diff. Sub-0.2s baselines are excluded from the worst
    // ratio — at that magnitude the ratio measures GC/timer noise, not
    // the plan.
    val baseline: Map[String, Double] = try {
      val bp = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE.json")
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(bp)), "UTF-8")
      import org.json4s._
      val root = org.json4s.jackson.JsonMethods.parse(txt) \ "baseline"
      // the pin is sf-specific: ratios against a different scale factor
      // would be scale arithmetic, not a regression signal
      val pinnedSf = root \ "sf" match {
        case JString(s) => s
        case _ => ""
      }
      // an absent/empty sf pin means the baseline's scale is unknown —
      // no baseline at all beats ratios against an unknowable scale
      // (endsWith("") matches every sfDir)
      if (pinnedSf.isEmpty || !sfDir.endsWith(pinnedSf)) Map.empty
      else root \ "queries" match {
        case JObject(fields) =>
          fields.flatMap { case (k, v) => Probe.num(v).map(k -> _) }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }
    // compare OPERATOR time against the pinned operator time — for the
    // rawTwins queries the full-gate time includes oracle verification
    // the baseline's per-query number deliberately excludes
    val ratios = results.toSeq.collect {
      case (k, (op, _, f, _)) if f >= 0 && baseline.get(k).exists(_ >= 0.2) =>
        (k, op / baseline(k))
    }
    // fresh-JVM peer runs of the SAME build, for breach adjudication
    val peerFiles: Seq[String] =
      sys.env.get("SPARK_GRAFT_BENCH_PEERS")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse {
          val d = new java.io.File("bench_peers")
          if (!d.isDirectory) Nil
          else d.listFiles().filter(_.getName.endsWith(".json"))
            .map(_.getPath).sorted.toSeq
        }
    val peers = peerFiles.flatMap(p => readQueriesMap(p).map(p -> _))
    val verdicts = adjudicateBreaches(ratios.toMap, peers.map(_._2), baseline)
    val adjJson =
      if (ratios.isEmpty) "null"
      else {
        val counts = verdicts.values.groupBy(identity).view.mapValues(_.size)
        val per = verdicts.toSeq.sorted.map { case (k, v) =>
          s"\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
        val files = peers.map("\"" + _._1 + "\"").mkString("[", ",", "]")
        s"""{"n_breaches":${verdicts.size},""" +
          s""""n_regressions":${counts.getOrElse("regression", 0)},""" +
          s""""n_contention":${counts.getOrElse("contention", 0)},""" +
          s""""n_inconclusive":${counts.getOrElse("inconclusive", 0)},""" +
          s""""n_no_peer":${counts.getOrElse("no_peer", 0)},""" +
          s""""breaches":$per,"peers":$files}"""
      }
    val vsBaseline =
      if (ratios.isEmpty) "null"
      else {
        val (wk, wr) = ratios.maxBy(_._2)
        val med = ratios.map(_._2).sorted.apply(ratios.size / 2)
        val over = ratios.count(_._2 > 2.0)
        s"""{"worst_key":"$wk","worst_ratio":${r3(wr)},"median_ratio":${r3(med)},"n_over_2x":$over,"n_compared":${ratios.size}}"""
      }
    // `value` totals the FULL gate time (operator + verification), the
    // same quantity previous rounds reported, so totals stay comparable
    val total = results.values.collect { case (_, _, f, _) if f >= 0 => f }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // provenance field: bench_full.json was once overwritten by a judge
    // rerun (round 8) — the producer tag makes the artifact attest who
    // wrote it, so cross-machine comparisons can't silently mix runs
    val fullLine = s"""{"metric":"total","producer":"graft.Bench","env":$envJson,"queries":$qs,"spread":$spread,"failed":$failedJson,"vs_baseline":$vsBaseline,"adjudication":$adjJson,"sf":"$sfDir","n":${results.size},"reps":$reps,"unit":"sec","value":${r3(total)}}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    println(fullLine)
    // compact summary LAST: totals + slowest-10, small enough that the
    // driver's stdout-tail capture can never truncate it mid-object
    val slow = results.toSeq.filter(_._2._3 >= 0).sortBy(-_._2._3).take(10)
      .map { case (k, (_, _, f, _)) => s"\"" + k + "\":" + r3(f) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"summary","slowest":$slow,"n_failed":${failed.size},"vs_baseline":$vsBaseline,"adjudication":$adjJson,"sf":"$sfDir","n":${results.size},"file":"$benchOut","unit":"sec","value":${r3(total)}}""")
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
    spark.stop()
  }
}
