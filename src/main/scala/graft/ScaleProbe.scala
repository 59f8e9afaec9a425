package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Probe.{num, r3}

/** ONE-DECADE SCALE PROBE — the empirical test of the 100 TB claim the
  * single-scale-factor bench gate cannot run: the slowest registry keys
  * are timed at sf0.1 AND at a 10x replication of it, and the per-key
  * scaling ratio is the artifact. A linear operator lands near 10x (or
  * below — fixed costs amortize); anything super-linear (O(n^2) creep,
  * a driver collect growing with the data, a broadcast crossing its
  * threshold into a different plan) shows as a ratio well past the
  * decade and gets adjudicated with a plan read (SURVEY §7).
  *
  * The 10x replication is SHAPE-preserving, not a naive copy — a naive
  * union of 10 identical copies would manufacture cross-copy duplicate
  * clusters (every doc pairs with its 9 clones: candidate counts then
  * scale with copies², an artifact of the construction, not the
  * operator), so each copy is set apart from the others (disjoint in
  * the key and token spaces, only partly in cosine space) while keeping
  * the within-copy structure intact:
  *   - keys shift by copy * (max+1) (referential structure per copy);
  *   - document tokens get a per-copy suffix (token/shingle/n-gram
  *     spaces disjoint across copies, identical within a copy);
  *   - embeddings get a per-copy sign flip per dimension (within-copy
  *     cosines exact; across copies NOT disjoint at tau 0.35, see
  *     the embeddings block in [[buildScaled]]).
  * Dup-density, vocabulary growth, and cluster structure per unit of
  * data therefore match the base corpus in the key and token spaces —
  * the ratio measures the OPERATOR's scaling, not the generator's.
  *
  * Usage: runMain graft.ScaleProbe [baseDir] [scaledDir] [factor]
  * (defaults /root/testdata/sf0.1, /tmp/graft_sf1, 10). Emits one JSON
  * line; the driver-visible artifact is SCALE_r{N}.json. */
object ScaleProbe {

  /** The probe set == the SCALE_BASELINE.json pin set: the bench's
    * heavy keys plus every operator the r16-r19 scale work reshaped —
    * a bare run probes exactly what the gate compares. r19 (verdict
    * ask #3) extends past the known heavy hitters to the next tier:
    * iterative GD (text_classifier_train), the persisted-graph search
    * + its cold fit (ann_graph_topk), the component/label-prop loops
    * whose round counts could grow with scale (dedup_clusters,
    * graph_labelprop), the incremental-view join (q49_view_maintain,
    * over the now-scaled events), and the two freshly oracle-gated
    * production-tau banded keys. r20 (verdict ask #4) adds what a user
    * actually runs — the three headline end-to-end pipelines
    * (pipeline_ram_e2e over scaled customer/supplier origins/POIs,
    * pipeline_llm_e2e and pipeline_dataset_card over scaled
    * documents) — plus the two production-tau COMPOSITION keys. */
  val probeKeys: Seq[String] = Seq(
    "ann_nndescent", "emb_dedup_final", "text_kn_perplexity",
    "dedup_final", "ann_nprobe_sweep", "dedup_lsh_sweep",
    "pipeline_paraphrase", "geo_dbscan", "graph_modularity",
    "dedup_containment", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard", "emb_neardup_lsh", "text_decontaminate",
    "pipeline_curate",
    "text_classifier_train", "ann_graph_topk", "dedup_clusters",
    "graph_labelprop", "q49_view_maintain", "emb_neardup_prod",
    "emb_neardup_prod_widened",
    "pipeline_ram_e2e", "pipeline_llm_e2e", "pipeline_dataset_card",
    "pipeline_paraphrase_prod", "emb_dedup_final_prod")

  /** Build the 10x shape-preserving replication under `dst`. */
  def buildScaled(spark: SparkSession, src: String, dst: String,
                  factor: Int): Unit = {
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect().head.getLong(0) + 1L

    def copies(df: DataFrame)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => mk(df, i)).reduce(_.unionByName(_))

    // keyed dimension tables: shift the key per copy, carry the rest
    def keyShift(name: String, key: String): Unit = {
      val df = Tables.load(spark, src, name)
      val m = maxOf(df, key)
      copies(df) { (d, i) =>
        d.withColumn(key, col(key) + lit(i * m))
      }.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    keyShift("customer", "c_custkey")
    keyShift("supplier", "s_suppkey")

    // documents: per-copy token suffix — token spaces disjoint across
    // copies, so dedup/shingle structure scales linearly by design
    locally {
      val d = Tables.load(spark, src, "documents")
      val m = maxOf(d, "doc_id")
      copies(d) { (df, i) =>
        val text =
          if (i == 0) col("text")
          else concat_ws(" ", transform(split(col("text"), " "),
            t => concat(t, lit(s"~$i"))))
        df.select((col("doc_id") + lit(i * m)).as("doc_id"),
          text.as("text"), col("lang"), col("source"),
          length(text).as("n_chars"))
      }.write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }

    // embeddings: per-copy RADEMACHER sign flip — one deterministic
    // ±1 vector per (copy, dim), applied to every vector of the copy.
    // Within a copy, both endpoints of any pair flip the SAME signs,
    // so every within-copy cosine (and norm) is preserved EXACTLY.
    // Across copies, s_i ⊙ s_j is an iid ±1 vector, so cross-copy
    // cosines centre on 0 with std ~ dim^-1/2 (≈ 0.125 at 64 dims) —
    // NOT disjoint at a loose tau: cross-copy pairs appear at about the
    // base rate and grow with copies². Measured with
    // `Similarity.semanticPairs(dir, 0.35)`: 4,137 pairs at sf0.1 and
    // 43,115,182 at factor 100, where 100 disjoint copies would give
    // 413,700. What the flip does remove is the r17 construction's exact
    // cross-copy clones (every vector paired with its 99 copies at any
    // tau). A disjoint construction is a new gen and a re-pin of
    // SCALE_BASELINE.json.
    locally {
      val e = Tables.load(spark, src, "embeddings")
      val m = maxOf(e, "vec_id")
      copies(e) { (df, i) =>
        val emb =
          if (i == 0) col("embedding")
          else expr(s"""transform(embedding, (x, j) ->
            CAST(x * (1 - 2 * pmod(xxhash64(j, $i), 2)) AS FLOAT))""")
        df.select((col("vec_id") + lit(i * m)).as("vec_id"),
          emb.as("embedding"), col("label"))
      }.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    }

    // events (gen 3): per-copy shifts on event_id, user_id AND ts —
    // the time axis must grow with the data or every copy folds into
    // the same hourly windows and group cardinality stays flat (a
    // replication artifact: window-keyed operators like
    // q49_view_maintain would measure constant group counts at any
    // factor). Shifting ts by copy x (span + 1 h) keeps within-copy
    // temporal structure exact and makes window/user/event key spaces
    // all scale linearly. ts arrives as LongType nanos
    // (nanosAsLong=true) and is written back as nanos — Tables.events
    // normalizes either representation.
    locally {
      val raw = Tables.load(spark, src, "events")
      // normalize ts to nanos-long regardless of the writer's physical
      // type (TIMESTAMP(NANOS)->LongType under nanosAsLong, or
      // timestamp[us] NTZ — session TZ is UTC so the cast is identity
      // on the stored instant); the scaled corpus always stores the
      // long form, which Tables.events normalizes on read
      val ev = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => raw
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
        case _ => raw.withColumn("ts", expr("unix_micros(ts) * 1000"))
      }
      val Array(mnE, mxE, mnU, mxU, mnT, mxT) =
        ev.agg(min(col("event_id")), max(col("event_id")),
            min(col("user_id")), max(col("user_id")),
            min(col("ts")), max(col("ts")))
          .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val mE = mxE - mnE + 1L; val mU = mxU - mnU + 1L
      val spanNs = mxT - mnT + 3600L * 1000000000L
      copies(ev) { (d, i) =>
        d.select((col("event_id") + lit(i * mE)).as("event_id"),
          (col("ts") + lit(i * spanNs)).as("ts"),
          (col("user_id") + lit(i * mU)).as("user_id"),
          col("event_type"), col("value"))
      }.write.mode("overwrite").parquet(s"$dst/events.parquet")
    }

    // remaining tables ride unscaled (no probe key reads them; present
    // so fingerprints and incidental loads resolve)
    Seq("region", "nation", "orders", "lineitem", "part")
      .foreach { t =>
        Tables.load(spark, src, t)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    // completion marker LAST (r16 ADVICE): records what was built, so a
    // crashed or different-parameter previous build is detected and
    // rebuilt instead of silently reused (stale scaled data poisons
    // every ratio in SCALE_r{N}.json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(scaledMarker(dst)),
      markerContent(src, factor).getBytes("UTF-8"))
  }

  private def scaledMarker(dst: String): String = s"$dst/_GRAFT_SCALED"
  // gen versions the CONSTRUCTION, not just its inputs: a generator
  // change (r18: embedding sign-flip copies; r19: events scaled with
  // per-copy id/user/ts shifts — documents/embeddings/customer/
  // supplier construction unchanged, so prior pins stay comparable)
  // must invalidate corpora built by the old one, or stale data
  // silently poisons every ratio
  private def markerContent(src: String, factor: Int): String =
    s"base=$src\nfactor=$factor\ngen=3\n"

  /** True iff a prior [[buildScaled]] COMPLETED with the same base and
    * factor — the marker is written as the build's last step. */
  def scaledIsCurrent(src: String, dst: String, factor: Int): Boolean = {
    val p = java.nio.file.Paths.get(scaledMarker(dst))
    java.nio.file.Files.exists(p) &&
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8") ==
        markerContent(src, factor)
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scaled = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local("ScaleProbe")

    if (!scaledIsCurrent(base, scaled, factor))
      buildScaled(spark, base, scaled, factor)

    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val keys = Probe.only.getOrElse(probeKeys)
    val rows = keys.flatMap { k =>
      SparkEntry.queries.get(k).map { fn =>
        // reset between reps AND keys (Probe.reps): at factor 100 one
        // key's leftover blocks can hold most of the heap into the NEXT
        // key's quadratic pass (observed: emb_dedup_final OOMing right
        // after ann_nndescent's cold fit); a failed rep makes the min -1
        def time(dir: String): Double =
          Probe.reps(spark, reps, s"[scale] $k at $dir")(fn(spark, dir).count()).min
        val tB = time(base)
        val tS = time(scaled)
        val ratio = if (tB > 0 && tS >= 0) tS / tB else -1.0
        System.err.println(f"[scale] $k%-22s base=${r3(tB)}s " +
          f"scaled=${r3(tS)}s ratio=${r3(ratio)}")
        k -> (tB, tS, ratio)
      }
    }
    val qs = rows.map { case (k, (b, s, r)) =>
      s"""\"$k\":{"base":${r3(b)},"scaled":${r3(s)},"ratio":${r3(r)}}"""
    }.mkString("{", ",", "}")
    val worst = rows.filter(_._2._3 >= 0).sortBy(-_._2._3).take(3)
      .map { case (k, (_, _, r)) => s"""\"$k\":${r3(r)}""" }
      .mkString("{", ",", "}")
    // SCALE GATE (r17 ask #3): compare each measured factor-`factor`
    // ratio against the committed pin, the BENCH-vs-BASELINE
    // discipline applied to scaling shape — a key drifting past 2x its
    // pinned ratio is a scaling REGRESSION even when its absolute
    // time still looks harmless at probe scale. Pin with
    // SPARK_GRAFT_SCALE_PIN=1 (writes/overwrites SCALE_BASELINE.json
    // from this run); sub-second pinned ratios are excluded from the
    // worst-ratio like the bench gate's 0.2 s floor.
    val pinPath = java.nio.file.Paths.get("SCALE_BASELINE.json")
    // pin entries carry a PER-KEY factor (r18 ADVICE: a subset re-pin
    // at a different factor used to restamp the file's single top-level
    // factor, silently mixing incomparable ratios under one label);
    // legacy entries without one inherit the file-level factor. Parsed
    // with json4s, not a regex — number-format drift must fail loudly,
    // not drop pins silently.
    def readPins(): Map[String, (Double, Double, Int, Int)] =
      if (!java.nio.file.Files.exists(pinPath)) Map.empty
      else {
        import org.json4s._
        val root = org.json4s.jackson.JsonMethods.parse(new String(
          java.nio.file.Files.readAllBytes(pinPath), "UTF-8"))
        val fileFactor = num(root \ "factor").map(_.toInt).getOrElse(factor)
        root \ "keys" match {
          case JObject(fields) => fields.flatMap { case (k, v) =>
            for (r <- num(v \ "ratio"); a <- num(v \ "abs"))
              yield k -> (r, a,
                num(v \ "factor").map(_.toInt).getOrElse(fileFactor),
                // rep protocol per pin (r19 verdict ask #6): legacy
                // entries without one were measured at the historical
                // default (min-of-2)
                num(v \ "reps").map(_.toInt).getOrElse(2))
          }.toMap
          case _ => Map.empty
        }
      }
    val pins = readPins()
    val vsPin =
      if (pins.isEmpty) """"no_pin":true"""
      else {
        // only same-factor pins are comparable: a ratio measured at
        // factor 10 says nothing about a run at factor 100
        val cmp = rows.flatMap { case (k, (_, s, r)) =>
          pins.get(k).collect {
            case (pr, pa, pf, _) if pr > 0 && r >= 0 && pf == factor =>
              (k, r / pr, s, pa)
          }
        }
        val eligible = cmp.filter(_._4 >= 1.0) // pinned abs >= 1 s
        val over = eligible.count(_._2 > 2.0)
        val worstP = eligible.sortBy(-_._2).headOption
        val details = cmp.map { case (k, rr, _, _) =>
          s"""\"$k\":${r3(rr)}""" }.mkString("{", ",", "}")
        s""""vs_scale_baseline":{"ratio_of_ratio":$details,""" +
          s""""worst_key":${worstP.map(w => "\"" + w._1 + "\"")
            .getOrElse("null")},""" +
          s""""worst":${worstP.map(w => r3(w._2)).getOrElse("-1")},""" +
          s""""n_over_2x":$over,"n_compared":${cmp.size}}"""
      }
    println(s"""{"metric":"scale_probe","factor":$factor,"base":"$base","scaled":"$scaled","reps":$reps,"keys":$qs,"worst_ratios":$worst,$vsPin}""")
    if (sys.env.get("SPARK_GRAFT_SCALE_PIN").contains("1")) {
      // MERGE into any existing pin (a probe may run key subsets):
      // this run's measurements override, other pinned keys survive
      // VERBATIM with their own per-key factor — a subset re-pin at a
      // different factor can no longer relabel them (r18 ADVICE)
      // each pin records its REP PROTOCOL (min-of-N, r19 verdict ask
      // #6): a re-pin at higher reps is distinguishable from the
      // default-protocol pins it sits next to, so variance-vs-
      // regression calls are reproducible from the artifact alone
      def render(k: String, r: Double, a: Double, f: Int, rp: Int): String =
        s"""\"$k\":{"ratio":${r3(r)},"abs":${r3(a)},"factor":$f,"reps":$rp}"""
      val prior = pins.map { case (k, (r, a, f, rp)) =>
        k -> render(k, r, a, f, rp) }
      val fresh = rows.filter(_._2._3 >= 0).map { case (k, (_, s, r)) =>
        k -> render(k, r, s, factor, reps)
      }.toMap
      val pinned = (prior ++ fresh).toSeq.sortBy(_._1).map(_._2)
        .mkString(",")
      java.nio.file.Files.write(pinPath,
        (s"""{"metric":"scale_baseline","factor":$factor,"gen":3,""" +
          s""""keys":{$pinned}}""").getBytes("UTF-8"))
      System.err.println(s"[scale] pinned ${fresh.size} keys to $pinPath")
    }
    spark.stop()
  }
}
