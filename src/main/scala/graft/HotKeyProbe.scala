package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Pins
import Probe.r3

/** HOT-KEY PROBE — the adversarial input the shape-preserving scale
  * replication cannot manufacture: a boilerplate sentence present in
  * EVERY document of a probe-scale corpus, so its shingles' document
  * frequency equals the corpus size. This is the r16-verdict hazard
  * class for the inverted-index operators (dedup_containment,
  * text_decontaminate, pipeline_curate's contamination step): with a
  * `collect_set + filter(df <= maxDF)` index the final aggregation
  * merge must materialize the hot shingle's corpus-sized doc set on
  * ONE reducer before the filter can drop it — heap death at 100 TB.
  * [[graft.functions.CappedDistinctSet]] abandons the set at the cap
  * inside the aggregation, so the probe's assertion is simply that the
  * operators COMPLETE at probe scale under the bench heap, return the
  * planted signal, and return nothing induced by the boilerplate.
  *
  * Corpus: `nDocs` documents, each `bodyTokens` unique tokens (token
  * space disjoint across docs) followed by the same boilerplate
  * sentence (7 tokens = five 3-shingles with df = nDocs, plus the
  * body-to-boilerplate crossing shingles with df = 1). Planted
  * signals: doc 1's FULL text is a prefix of doc 2's (containment
  * 1.0 despite a tiny Jaccard), and train doc 11 shares one rare
  * 5-token phrase (three distinct 3-shingles) with eval doc 20.
  *
  * Usage: runMain graft.HotKeyProbe [nDocs] (default 500000 — the
  * factor-100 probe's document count). Emits one JSON line; the
  * driver-visible artifact is HOTKEY_r{N}.json. */
object HotKeyProbe {

  val Boiler = "terms of service apply to all content"

  /** The synthetic corpus, built distributed (no driver-side rows):
    * every document carries [[Boiler]], so each of its shingles is a
    * corpus-wide hot key. */
  def corpus(spark: SparkSession, nDocs: Long): DataFrame = {
    val body = concat_ws(" ",
      (0 until 6).map(j => concat(lit(s"u${j}x"), col("id"))): _*)
    val rare = "quaint zephyr mosaic lantern drifts"
    spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") === 1,
        concat_ws(" ", lit("alpha beta gamma delta epsilon zeta"),
          lit(Boiler)))
      .when(col("id") === 2,
        // doc 1's whole text, then more: every doc-1 shingle (body,
        // boilerplate, and the crossing ones) appears here
        concat_ws(" ", lit("alpha beta gamma delta epsilon zeta"),
          lit(Boiler), lit("extra filler more noise pad tail")))
      .when(col("id") === 11,
        concat_ws(" ", lit(rare), body, lit(Boiler)))
      .when(col("id") === 20,
        concat_ws(" ", lit(rare), body, lit(Boiler)))
      .otherwise(concat_ws(" ", body, lit(Boiler)))
      .as("text"))
  }

  def main(args: Array[String]): Unit = Pins.scope { s =>
    val nDocs = args.lift(0).map(_.toLong).getOrElse(500000L)
    val spark = GraftSession.local("HotKeyProbe")

    val docs = s.pin(corpus(spark, nDocs))
    // each probe's pins end with it; the corpus pin outlives them all,
    // so no GraftSession.reset here (it would release the corpus too)
    def timed[A](f: => A): (A, Double) = {
      spark.catalog.clearCache(); System.gc()
      Probe.timed(Pins.scope { _ => f })
    }

    // dedup_containment at probe scale: the planted pair must surface,
    // the df = nDocs boilerplate shingles must induce nothing
    val (cPairs, cSec) = timed {
      operators.Dedup.containmentOf(docs, n = 3, maxDF = 20,
          tau = 0.9, minSize = 5)
        .select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val cPlanted = cPairs.contains((1L, 2L))
    val cLeaked = cPairs.exists { case (a, b) =>
      !Set(a, b).subsetOf(Set(1L, 2L)) }

    // text_decontaminate at probe scale: train 11 x eval 20 shares the
    // rare phrase's three shingles (minShared = 3); boilerplate (in
    // every train x eval combination) must contribute no pair
    val (dPairs, dSec) = timed {
      operators.TextAnalysis.decontaminateOf(docs, n = 3, maxDF = 20,
          minShared = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val dPlanted = dPairs.contains((11L, 20L))
    val dLeaked = dPairs.exists(_ != ((11L, 20L)))

    // ---- scenario 2: the DEGENERATE BUCKET — a corpus-scale block of
    // byte-identical documents/vectors, so every LSH band bucket and
    // every simhash block key they produce holds the whole block. The
    // post-filter gather shape these operators used to carry would
    // materialize a hot-block-sized list per (band, bucket) on one
    // reducer — and simhashPairs (uncapped before r17) would explode
    // C(hotBlock, 2) pairs: ~5e9 at this probe's size. The capped gather
    // must reduce all of it to dead bits while the planted
    // NON-pathological pair (two identical docs in their own bucket)
    // still surfaces.
    // the hot block's document count, used directly in the range
    // predicate and the JSON (r17 ADVICE: the old doubled-then-halved
    // nHot variable misread as twice the block)
    val hotBlock = math.max(nDocs / 5, 1L) // 100k docs at the default 500k
    val hotText = "every copy of this template document is byte identical boilerplate"
    val bDocs = spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id").isin(1L, 2L),
        lit("planted near duplicate pair with its own private bucket of text"))
      .when(col("id") >= 10L && col("id") < hotBlock + 10L, lit(hotText))
      .otherwise(concat_ws(" ",
        (0 until 12).map(j => concat(lit(s"w${j}q"), col("id"))): _*))
      .as("text"),
      lit("en").as("lang"), lit("probe").as("source"))
      .withColumn("n_chars", length(col("text")))
    // vectors: sized to the banding's spread capacity — nearDupLsh at
    // (nBits 64, bands 8) keys 256 buckets per band, so 20k unique
    // random vectors sit ~80 per bucket (well under the 2000 cap)
    // while the 30k-identical hot block lands its WHOLE mass in one
    // bucket per band and must die at the cap
    val dim = 64
    val nVec = 50000L
    val hotVecTo = 30010L
    val bVecs = spark.range(nVec).select(col("id").as("vec_id"),
      when(col("id").isin(1L, 2L), array(
        (0 until dim).map(j => lit(math.sin(j + 1).toFloat)): _*))
      .when(col("id") >= 10L && col("id") < hotVecTo, array(
        (0 until dim).map(j => lit(math.cos(j + 1).toFloat)): _*))
      .otherwise(expr(s"""transform(sequence(0, ${dim - 1}), j ->
        CAST(CAST(pmod(xxhash64(vec_id, j), 2001) - 1000 AS FLOAT)
          / CAST(1000 AS FLOAT) AS FLOAT))"""))
      .as("embedding"), lit(0).as("label"))
    val hbDir = s"${System.getProperty("java.io.tmpdir")}/graft_hotbucket"
    bDocs.write.mode("overwrite").parquet(s"$hbDir/documents.parquet")
    bVecs.write.mode("overwrite").parquet(s"$hbDir/embeddings.parquet")

    def hotDoc(id: Long) = id >= 10L && id < hotBlock + 10L
    val (mPairs, mSec) = timed {
      operators.Dedup.minhashCandidates(spark, hbDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val mPlanted = mPairs.contains((1L, 2L))
    val mLeaked = mPairs.exists { case (a, b) => hotDoc(a) && hotDoc(b) }

    val (sPairs, sSec) = timed {
      operators.Dedup.simhashPairs(spark, hbDir)
        .select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val sPlanted = sPairs.contains((1L, 2L))
    val sLeaked = sPairs.exists { case (a, b) => hotDoc(a) && hotDoc(b) }

    def hotVec(id: Long) = id >= 10L && id < hotVecTo
    val (vPairs, vSec) = timed {
      operators.Similarity.nearDupLsh(spark, hbDir, nBits = 64)
        .select(col("va"), col("vb"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val vPlanted = vPairs.contains((1L, 2L)) || vPairs.contains((2L, 1L))
    val vLeaked = vPairs.exists { case (a, b) => hotVec(a) && hotVec(b) }

    // ---- scenario 3 (r17 ask #5): the remaining skew-sensitive
    // shapes — a CELEBRITY graph node (in-degree = corpus), a hot
    // event type confined to one clock hour against the q37 two-level
    // prefix sum, a whole-corpus market segment against the q38
    // two-level rank, and one hot CDC merge key carrying almost every
    // op. Contracts: complete under the bench heap, surface the
    // planted signal, per-partition work bounded by construction
    // (partial aggs net hot keys map-side; windows are block/band-
    // local, never segment-sized).
    val nG = math.max(nDocs / 5, 1000L) // 100k nodes at the default 500k
    val gNodes = spark.range(nG).select(col("id").as("node"))
    val gEdges = spark.range(nG)
      .select(col("id").as("src"), ((col("id") + 1L) % nG).as("dst"))
      .unionByName(spark.range(1, nG)
        .select(col("id").as("src"), lit(0L).as("dst")))
      .unionByName(spark.range(nG / 100)
        .select(lit(0L).as("src"), (col("id") * 100L).as("dst")))
    val (prTop, prSec) = timed {
      operators.Graph.pagerankOver(gNodes, gEdges, iters = 3)
        .orderBy(col("pr").desc).limit(1)
        .collect().head.getLong(0)
    }
    val prPlanted = prTop == 0L // the celebrity dominates the rank mass
    val (lpRows, lpSec) = timed {
      operators.Graph.labelPropOver(gEdges,
        spark.range(nG).select(col("id")), rounds = 2).count()
    }
    val lpOk = lpRows == nG
    val epoch = lit("2026-01-01 00:00:00").cast("timestamp")
    val hotEv = spark.range(2000000L).select(lit("hot").as("etype"),
      (epoch + expr("make_interval(0, 0, 0, 0, 0, 0, id % 3600)")).as("ts"))
    val (q37Row, q37Sec) = timed {
      operators.Relational.q37ConcurrencyOf(hotEv, sessionMin = 15)
        .collect()
    }
    val q37Ok = q37Row.length == 1 && q37Row.head.getLong(1) > 0L &&
      q37Row.head.getLong(1) <= 2000000L
    val hotCust = spark.range(2000000L).select(col("id").as("c_custkey"),
      lit("HOT").as("c_mktsegment"),
      (col("id") % 20000L).cast("double").as("c_acctbal"))
    val (q38Agg, q38Sec) = timed {
      operators.Relational.decilesTwoLevelOf(hotCust, bandWidth = 500.0)
        .agg(count(lit(1)), max(col("decile")), min(col("pct_rank")),
          max(col("pct_rank"))).collect().head
    }
    val q38Ok = q38Agg.getLong(0) == 2000000L && q38Agg.getInt(1) == 10 &&
      q38Agg.getDouble(2) == 0.0 && q38Agg.getDouble(3) == 1.0
    // CDC changelog: user 7 carries ~all ops (hot merge key); its last
    // op by (ts, event_id) is a planted upsert with value 42.5 at a
    // strictly-later timestamp than every other op; user 9's only op
    // is a delete and must be absent from the materialized state
    val nCdc = 2000000L
    val cdcEv = spark.range(nCdc).select(col("id").as("event_id"),
      when(col("id") === nCdc - 2L, lit(9L))
        .when(col("id") % 20 === 0, (col("id") % 100000L) + 100L)
        .otherwise(lit(7L)).as("user_id"),
      when(col("id") === nCdc - 1L, lit("purchase"))
        .when(col("id") === nCdc - 2L, lit("error"))
        .otherwise(lit("click")).as("event_type"),
      (epoch + expr("make_interval(0, 0, 0, 0, 0, 0, " +
        "CASE WHEN id >= 1999998 THEN 7200 ELSE id % 3600 END)")).as("ts"),
      when(col("id") === nCdc - 1L, lit(42.5))
        .otherwise(lit(1.0)).as("value"))
    val (cdcRows, cdcSec) = timed {
      streaming.EventStreams.cdcMerge(cdcEv)
        .filter(col("user_id").isin(7L, 9L)).collect()
    }
    val cdcOk = cdcRows.length == 1 && cdcRows.head.getLong(0) == 7L &&
      cdcRows.head.getDouble(1) == 42.5

    // ---- scenario 4 (r18 ask #7): the WIDENED banded arm's own skew
    // axis — scenario 2 drives the design-point slicing at the loose
    // default tau, but the production-tau widened plan (independent
    // seeded r-bit bands) has a different hot surface: a CLUSTERED
    // corpus lands each cluster's whole mass in ONE bucket per band
    // regardless of the occupancy target the width was derived for.
    // Corpus: 200k vectors (the factor-100 embedding count) with HALF
    // of them one byte-identical 100k-member cluster, a planted pair
    // in its own private bucket, and unique random vectors elsewhere.
    // nearDupLsh at tau 0.9 / targetOcc 256 dispatches the widened
    // plan (r=16, 32 bands at this count); the occupancy-adaptive cap
    // (~98 here) must bound every band's gather, so the surviving
    // hot-cluster pair mass is <= bands x C(cap, 2) — five orders
    // below the uncapped C(100k, 2) — while the planted pair and the
    // run itself stay inside the bench heap.
    val wN = 200000L
    val wHotTo = 100010L
    val wVecs = spark.range(wN).select(col("id").as("vec_id"),
      when(col("id").isin(1L, 2L), array(
        (0 until dim).map(j => lit(math.sin(2 * j + 1).toFloat)): _*))
      .when(col("id") >= 10L && col("id") < wHotTo, array(
        (0 until dim).map(j => lit(math.cos(3 * j + 2).toFloat)): _*))
      .otherwise(expr(s"""transform(sequence(0, ${dim - 1}), j ->
        CAST(CAST(pmod(xxhash64(vec_id, j, 7), 2001) - 1000 AS FLOAT)
          / CAST(1000 AS FLOAT) AS FLOAT))"""))
      .as("embedding"), lit(0).as("label"))
    val wDir = s"${System.getProperty("java.io.tmpdir")}/graft_hotwidened"
    wVecs.write.mode("overwrite").parquet(s"$wDir/embeddings.parquet")
    val (wArm, wR, wBands) = operators.Similarity.nearDupLshPlan(
      wN, 0.9, 64, 8, targetOcc = 256)
    val wCap = operators.Similarity.adaptiveMaxBucket(wN, wR)
    def hotW(id: Long) = id >= 10L && id < wHotTo
    val (wStats, wSec) = timed {
      val pairs = operators.Similarity
        .nearDupLsh(spark, wDir, tau = 0.9, nBits = 64, bands = 8,
          targetOcc = 256)
        .select(col("va"), col("vb"))
      // bounded-size driver read: per-class pair COUNTS, never the
      // hot pair list itself
      pairs.select(
          (col("va") === 1L && col("vb") === 2L).as("planted"),
          (col("va") >= 10L && col("va") < wHotTo &&
            col("vb") >= 10L && col("vb") < wHotTo).as("hot"))
        .groupBy().agg(
          sum(when(col("planted"), 1L).otherwise(0L)),
          sum(when(col("hot"), 1L).otherwise(0L)),
          count(lit(1))).collect().head
    }
    val wPlanted = wStats.getLong(0) == 1L
    val wHotPairs = wStats.getLong(1)
    val wTotal = wStats.getLong(2)
    val wBound = wBands.toLong * wCap * (wCap - 1) / 2
    val wOk = wArm == "lsh_banded" && wR > 8 && wPlanted &&
      wHotPairs <= wBound &&
      // nothing outside planted + capped-hot except stray random hits
      wTotal - wHotPairs <= 100L

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val ok = cPlanted && !cLeaked && dPlanted && !dLeaked &&
      mPlanted && !mLeaked && sPlanted && !sLeaked && vPlanted && !vLeaked &&
      prPlanted && lpOk && q37Ok && q38Ok && cdcOk && wOk
    println(s"""{"metric":"hotkey_probe","n_docs":$nDocs,""" +
      s""""hot_shingle_df":$nDocs,"hot_block_docs":$hotBlock,""" +
      s""""hot_block_vecs":${hotVecTo - 10},"heap_max_mb":$heapMb,"keys":{""" +
      s""""dedup_containment":{"sec":${r3(cSec)},"planted_pair":$cPlanted,"hot_leak":$cLeaked},""" +
      s""""text_decontaminate":{"sec":${r3(dSec)},"planted_pair":$dPlanted,"hot_leak":$dLeaked},""" +
      s""""dedup_minhash_lsh":{"sec":${r3(mSec)},"planted_pair":$mPlanted,"hot_leak":$mLeaked,"n_pairs":${mPairs.size}},""" +
      s""""dedup_simhash":{"sec":${r3(sSec)},"planted_pair":$sPlanted,"hot_leak":$sLeaked,"n_pairs":${sPairs.size}},""" +
      s""""emb_neardup_lsh":{"sec":${r3(vSec)},"planted_pair":$vPlanted,"hot_leak":$vLeaked,"n_pairs":${vPairs.size}},""" +
      s""""graph_pagerank":{"sec":${r3(prSec)},"celebrity_top":$prPlanted,"n_nodes":$nG},""" +
      s""""graph_labelprop":{"sec":${r3(lpSec)},"rows_ok":$lpOk,"n_nodes":$nG},""" +
      s""""q37_concurrency":{"sec":${r3(q37Sec)},"ok":$q37Ok,"hot_type_events":2000000},""" +
      s""""q38_deciles_2l":{"sec":${r3(q38Sec)},"ok":$q38Ok,"hot_segment_rows":2000000},""" +
      s""""stream_cdc_merge":{"sec":${r3(cdcSec)},"ok":$cdcOk,"hot_key_ops":${nCdc - nCdc / 20 - 2}},""" +
      s""""neardup_lsh_widened":{"sec":${r3(wSec)},"ok":$wOk,"arm":"$wArm","r":$wR,"bands":$wBands,"cap":$wCap,"planted_pair":$wPlanted,"hot_pairs":$wHotPairs,"hot_pair_bound":$wBound,"hot_cluster_vecs":${wHotTo - 10},"n_vecs":$wN}},""" +
      s""""ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
